"""Dataset sampling / splitting operators for training-data pipelines.

All deterministic and engine-portable: splits and samples are functions
of a multiplicative integer hash of the row key (Knuth's 2654435761),
expressible in ANSI SQL — so the driver's DuckDB oracle can verify them
exactly. At 100 TB the same shapes hold: hashing is stateless per row
(no shuffle for split), and exact stratified sampling is one window per
group (single shuffle on the group key).

For production-grade randomness swap the portable hash for xxhash64 —
the plumbing is identical; the portable hash exists so correctness is
cross-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from ..operators.relational import topk_per_group
from ..session import session_width
from .dedup import _posting_pairs

KNUTH = 2654435761


def portable_hash(key, buckets: int = 1_000_000):
    """Deterministic per-key bucket in [0, buckets): (key*2654435761)
    mod 2^31 mod buckets — same arithmetic in Spark and ANSI SQL.

    The key folds to 31 bits before the multiply ((k mod 2^31)*c mod
    2^31 == k*c mod 2^31 — value unchanged) so the product stays under
    2^62: the bare multiply raises ARITHMETIC_OVERFLOW under ANSI mode
    once keys pass ~3.47e9, i.e. precisely corpus-scale ids."""
    k31 = key.cast("long") % F.lit(2**31)
    return ((k31 * F.lit(KNUTH)) % F.lit(2**31)) % F.lit(buckets)


def split_by_hash(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Assign each row a stable train/val/test split label by key hash.

    Rows with equal keys always land in the same split (leak-safe for
    grouped data); no shuffle — a pure projection.
    """
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    b = portable_hash(F.col(key_col), 1000)
    expr = None
    acc = 0.0
    for name, wgt in weights.items():
        acc += wgt
        cond = b < int(round(acc * 1000))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("split", expr.otherwise(list(weights)[-1]))


def stratified_sample(
    df: DataFrame, group_col: str, fraction: float, key_col: str, salt: int | None = None
) -> DataFrame:
    """EXACT stratified sample: ceil(fraction * |group|) rows per group,
    chosen by hash order (deterministic, unbiased for hash-uniform keys).
    One window over the group key.

    ``salt=N``: skew-safe two-phase for groups too large for one window
    partition. Group sizes come from a hash aggregate (map-side partial,
    skew-immune) joined back; phase 1 keeps each (group, hash%N) salt's
    top ceil(n·fraction) — a superset bounded at N·cap rows per group —
    and phase 2 applies the exact cut. Output identical to unsalted."""
    order = [portable_hash(F.col(key_col)), F.col(key_col)]
    if salt is not None:
        counts = df.groupBy(group_col).agg(F.count("*").alias("__n"))
        cap = F.ceil(F.col("__n") * fraction)
        ws = W.partitionBy(
            F.col(group_col), portable_hash(F.col(key_col)) % salt
        ).orderBy(*order)
        pre = (
            df.join(counts, group_col)
            .withColumn("__srn", F.row_number().over(ws))
            .filter(F.col("__srn") <= cap)
            .drop("__srn")
        )
        w = W.partitionBy(group_col).orderBy(*order)
        return (
            pre.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= cap)
            .drop("__rn", "__n")
        )
    w = W.partitionBy(group_col).orderBy(*order)
    n = F.count("*").over(W.partitionBy(group_col))
    rn = F.row_number().over(w)
    return (
        df.withColumn("__rn", rn)
        .withColumn("__n", n)
        .filter(F.col("__rn") <= F.ceil(F.col("__n") * fraction))
        .drop("__rn", "__n")
    )


def reservoir_per_key(
    df: DataFrame, group_col: str, n: int, key_col: str, salt: int | None = None
) -> DataFrame:
    """Fixed-size deterministic 'reservoir' per group: the n rows with
    the smallest key hashes (equivalent in distribution to reservoir
    sampling for uniform hashes, but stable across runs). ``salt=N``
    enables the same exact two-phase skew-safe cut as ``source_quota``
    for groups too large for one window partition."""
    order = [portable_hash(F.col(key_col)), F.col(key_col)]
    if salt is not None:
        ws = W.partitionBy(
            F.col(group_col), portable_hash(F.col(key_col)) % salt
        ).orderBy(*order)
        df = (
            df.withColumn("__srn", F.row_number().over(ws))
            .filter(F.col("__srn") <= n)
            .drop("__srn")
        )
    w = W.partitionBy(group_col).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def weighted_sample(
    df: DataFrame,
    n: int,
    weight_col: str,
    key_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES,
    Inf. Proc. Letters 2006): draw ``n`` rows with inclusion probability
    proportional to ``weight_col`` by keeping the n smallest exponential
    race scores ``-ln(u_i) / w_i`` — the one-pass, order-free PPS scheme
    (u uniform in (0,1)).  The length-proportional document draw every
    data-mixing recipe needs.

    u_i comes from the portable multiplicative hash of ``key_col`` (not
    rand()), so the draw is deterministic, reproducible across runs and
    engines, and exactly verifiable by the SQL oracle.  Scores are
    rounded to 12 decimals before ranking with the key as tiebreak:
    ln() may differ by 1 ulp between libm implementations, and the
    round+tiebreak makes the selected SET identical regardless.

    Scale shape: global draw (``group_col=None``) plans as
    TakeOrderedAndProject — per-partition top-n heaps merged on the
    driver, no global sort, no single-task window.  Per-group draw is
    one row_number window on the group-key exchange.  Zero/negative
    weights are excluded (their inclusion probability is 0).
    """
    m = 1 << 20
    u = (portable_hash(F.col(key_col), m) + F.lit(0.5)) / F.lit(float(m))
    w = F.col(weight_col).cast("double")
    score = F.round(-F.log(u) / w, 12)
    out = df.filter(w > 0).withColumn("__score", score)
    if group_col is None:
        return out.orderBy(F.col("__score"), F.col(key_col)).limit(n).drop("__score")
    wspec = W.partitionBy(group_col).orderBy(F.col("__score"), F.col(key_col))
    return (
        out.withColumn("__wrn", F.row_number().over(wspec))
        .filter(F.col("__wrn") <= n)
        .drop("__wrn", "__score")
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 2048,
    n_shards: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming-fill sequence packing: assign each document to a fixed
    token-budget training pack.

    Docs are sharded by key hash (each shard packs independently — the
    same decomposition a 1000-executor packer uses, so the plan is one
    shuffle on the shard key + one window), ordered deterministically
    within the shard, and pack_no = the budget bucket where the doc's
    cumulative token span STARTS (floor(start/budget)). A doc straddling
    a boundary stays in its starting pack (a pack may overflow by less
    than one doc) — the streaming-fill discipline, chosen over first-fit
    bin packing because it is one window expression and, unlike
    first-fit, engine-portable for exact oracle verification.

    Returns (id, shard, pack_no, n_tokens, offset) where offset is the
    token position within the shard's stream at which the doc begins.
    """
    tok = F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    )
    shard = portable_hash(F.col(id_col), n_shards)
    w = W.partitionBy("shard").orderBy(F.col(id_col))
    cum = F.sum("n_tokens").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    return (
        df.select(
            F.col(id_col),
            shard.alias("shard"),
            tok.alias("n_tokens"),
        )
        .withColumn("__start", cum - F.col("n_tokens"))
        .select(
            id_col,
            "shard",
            F.floor(F.col("__start") / budget).alias("pack_no"),
            "n_tokens",
            F.col("__start").alias("offset"),
        )
    )


def pack_spans(
    df: DataFrame,
    budget: int = 2048,
    n_shards: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-EXACT sequence packing: every pack holds exactly ``budget``
    tokens (except each shard's tail) — documents straddling a boundary
    are SPLIT, emitting one row per (document, pack) span.

    The companion to ``pack_sequences`` (which keeps documents whole and
    lets packs overflow): this is the layout a real LLM training packer
    materializes. Per shard: cumulative token offset (one window), then
    each doc explodes into its covered packs via a JVM `sequence` —
    span count = boundary crossings + 1, so output rows ≈ docs + packs.
    Returns (id, shard, pack_no, tok_start, tok_end): the [start, end)
    token slice OF THE DOCUMENT that lands in that pack.
    """
    tok = F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    )
    shard = portable_hash(F.col(id_col), n_shards)
    w = W.partitionBy("shard").orderBy(F.col(id_col))
    cum = F.sum("n_tokens").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    staged = (
        df.select(F.col(id_col), shard.alias("shard"), tok.alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
        .withColumn("__start", cum - F.col("n_tokens"))
    )
    first_p = F.floor(F.col("__start") / budget)
    last_p = F.floor((F.col("__start") + F.col("n_tokens") - 1) / budget)
    out = staged.select(
        id_col,
        "shard",
        "n_tokens",
        "__start",
        F.explode(F.sequence(first_p, last_p)).alias("pack_no"),
    )
    tok_start = F.greatest(F.lit(0), F.col("pack_no") * budget - F.col("__start"))
    tok_end = F.least(
        F.col("n_tokens"), (F.col("pack_no") + 1) * budget - F.col("__start")
    )
    return out.select(
        id_col,
        "shard",
        "pack_no",
        tok_start.alias("tok_start"),
        tok_end.alias("tok_end"),
    )


def source_quota(
    df: DataFrame,
    caps: int | dict[str, int],
    key_col: str,
    source_col: str = "source",
    salt: int | None = None,
) -> DataFrame:
    """Quota/mixing sampler: keep at most ``caps`` docs per source
    (domain rebalancing — cap boilerplate-heavy domains before training).

    ``caps`` is a global int or {source: cap} with a ``"*"`` default.
    Selection is by key-hash order, so the kept subset is deterministic,
    unbiased for uniform hashes, and stable as the corpus grows.

    ``salt=N`` enables the skew-safe EXACT two-phase cut for mega-sources
    whose rows won't fit one window partition: phase 1 ranks within
    (source, key_hash % N) and keeps each salt's top ``cap`` — a superset
    of the answer, at most N·cap rows per source — and phase 2 applies
    the plain window to that bounded survivor set. Identical output to
    the unsalted path (ranking key is the same total order); pick N ≈
    ceil(biggest_source / executor_window_budget).
    """
    if isinstance(caps, int):
        cap = F.lit(caps)
    else:
        default = caps.get("*", 2**62)
        cap = None
        for src, c in caps.items():
            if src == "*":
                continue
            cond = F.col(source_col) == src
            cap = F.when(cond, c) if cap is None else cap.when(cond, c)
        cap = F.lit(default) if cap is None else cap.otherwise(default)
    order = [portable_hash(F.col(key_col)), F.col(key_col)]
    if salt is not None:
        ws = W.partitionBy(
            F.col(source_col), portable_hash(F.col(key_col)) % salt
        ).orderBy(*order)
        df = (
            df.withColumn("__srn", F.row_number().over(ws))
            .filter(F.col("__srn") <= cap)
            .drop("__srn")
        )
    w = W.partitionBy(source_col).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def token_quota(
    df: DataFrame,
    budgets: int | dict[str, int],
    key_col: str,
    source_col: str = "source",
    text_col: str = "text",
    salt: int | None = None,
) -> DataFrame:
    """Token-BUDGET mixing sampler: keep docs per source, in key-hash
    order, while the running whitespace-token total (inclusive of the
    current doc) stays within the source's budget — the form training
    mixes are actually specified in (tokens, not documents;
    ``source_quota`` is the doc-count sibling).

    ``budgets`` is a global int or {source: budget} with a ``"*"``
    default. The STRICT-PREFIX rule — a doc whose tokens overflow the
    budget is dropped and later, smaller docs are NOT back-filled —
    keeps the selection deterministic, order-independent, and stable as
    the corpus grows (backfilling would reshuffle the kept set whenever
    any upstream doc changed). Docs with empty text count 0 tokens.

    ``salt=N`` is the skew-safe EXACT form for mega-sources whose rows
    won't fit one window partition — the range-partitioned two-pass
    with broadcast carries that every ``*_scaled`` op in this engine
    uses (a mod-N salt would be WRONG here: the prefix rule's running
    total must count every earlier doc's tokens, including docs that
    end up dropped, and mod buckets interleave the order). The hash
    domain [0, 1e6) splits into N contiguous RANGES; each range
    computes a local cumsum over all its docs, range token totals
    (a sources x N frame) turn into per-range carries via one tiny
    window, and global cumsum = broadcast carry + local cumsum.
    Identical output to the unsalted path.
    """
    if isinstance(budgets, int):
        budget = F.lit(budgets)
    else:
        default = budgets.get("*", 2**62)
        budget = None
        for src, b in budgets.items():
            if src == "*":
                continue
            cond = F.col(source_col) == src
            budget = F.when(cond, b) if budget is None else budget.when(cond, b)
        budget = F.lit(default) if budget is None else budget.otherwise(default)
    from .text import whitespace_token_count

    ntok = whitespace_token_count(F.col(text_col)).cast("long")
    order = [portable_hash(F.col(key_col)), F.col(key_col)]
    df = df.withColumn("__ntok", ntok)
    if salt is not None:
        if int(salt) < 1:
            raise ValueError(f"salt must be >= 1, got {salt}")
        width = (1_000_000 + int(salt) - 1) // int(salt)
        # NULL-key rows hash to NULL -> coalesce the bucket to a
        # sentinel so the carry equi-join keeps them, matching the
        # unsalted window path (NULL is a legitimate partition there).
        # The sentinel must sort BEFORE every real bucket because the
        # unsalted orderBy puts NULL hashes first: Spark's % follows
        # the dividend's sign, so negative keys land in buckets down
        # to floor(-(2^31-1)/width) — -1 would collide (r10 review);
        # -2^31 is strictly below any reachable bucket.
        bucket = F.coalesce(
            F.floor(portable_hash(F.col(key_col)) / F.lit(width)),
            F.lit(-(2**31)),
        )
        wloc = (
            W.partitionBy(F.col(source_col), F.col("__b"))
            .orderBy(*order)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        dfb = df.withColumn("__b", bucket).withColumn(
            "__loc", F.sum("__ntok").over(wloc)
        )
        wc = (
            W.partitionBy(source_col)
            .orderBy("__b")
            .rowsBetween(W.unboundedPreceding, -1)
        )
        # null-safe carry join: a NULL source is a legitimate window
        # partition in the unsalted path, so the salted path must not
        # drop it through a null-unsafe equi-join
        carries = (
            dfb.groupBy(source_col, "__b")
            .agg(F.sum("__ntok").alias("__bt"))
            .withColumn("__carry", F.coalesce(F.sum("__bt").over(wc), F.lit(0)))
            .select(
                F.col(source_col).alias("__csrc"),
                F.col("__b").alias("__cb"),
                "__carry",
            )
        )
        return (
            dfb.join(
                F.broadcast(carries),
                F.col(source_col).eqNullSafe(F.col("__csrc"))
                & (F.col("__b") == F.col("__cb")),
            )
            .filter(F.col("__carry") + F.col("__loc") <= budget)
            .drop("__csrc", "__cb", "__b", "__loc", "__carry", "__ntok")
        )
    w = (
        W.partitionBy(source_col)
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        df.withColumn("__cum", F.sum("__ntok").over(w))
        .filter(F.col("__cum") <= budget)
        .drop("__cum", "__ntok")
    )


def upsample_mix(
    df: DataFrame,
    factors: float | dict[str, float],
    key_col: str,
    source_col: str = "source",
    copy_col: str = "copy_no",
) -> DataFrame:
    """Apply a training-mix REPEAT factor per source — the up-sampling
    dual of ``token_quota``'s budget cap (the static form of DoReMi /
    Pile-style domain weights): factor 2.25 keeps every doc twice plus
    a deterministic hash-selected quarter a third time; factor 0.5
    keeps a hash-selected half once — one op covers up- AND
    down-sampling, epochs-fraction style.

    ``factors`` is a global number or {source: factor} with a ``"*"``
    default (1.0). Output repeats each kept row with ``copy_col`` =
    0..n-1, so downstream ``train_order`` can shuffle copies
    independently by (key, copy). The fractional copy is selected by
    key-hash threshold — deterministic, unbiased for uniform hashes,
    and stable as the corpus grows (the same keys stay selected).

    Scale shape: a pure projection + in-row sequence explode — ZERO
    exchanges; output size is exactly sum(factor_s * |s|) rows up to
    hash rounding.
    """

    def parts(f: float) -> tuple[int, int]:
        if f < 0:
            raise ValueError(f"repeat factor must be >= 0, got {f}")
        k = int(f)
        return k, int(round((f - k) * 1_000_000))

    if isinstance(factors, (int, float)):
        k, thr = parts(float(factors))
        base, extra_thr = F.lit(k), F.lit(thr)
    else:
        dk, dthr = parts(float(factors.get("*", 1.0)))
        base, extra_thr = None, None
        for src, f in factors.items():
            if src == "*":
                continue
            k, thr = parts(float(f))
            cond = F.col(source_col) == src
            base = F.when(cond, k) if base is None else base.when(cond, k)
            extra_thr = (
                F.when(cond, thr) if extra_thr is None else extra_thr.when(cond, thr)
            )
        base = F.lit(dk) if base is None else base.otherwise(dk)
        extra_thr = F.lit(dthr) if extra_thr is None else extra_thr.otherwise(dthr)
    n = base + F.when(portable_hash(F.col(key_col)) < extra_thr, 1).otherwise(0)
    out = df.withColumn("__n", n).filter(F.col("__n") > 0)
    return out.select(
        "*",
        F.explode(
            F.sequence(F.lit(0).cast("long"), (F.col("__n") - 1).cast("long"))
        ).alias(copy_col),
    ).drop("__n")


def sliding_chunks(
    docs: DataFrame,
    size: int = 256,
    stride: int = 192,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window chunking with overlap: split each document into
    windows of ``size`` whitespace tokens advancing by ``stride`` — the
    standard retrieval/embedding-pipeline chunker (overlap = size -
    stride keeps boundary context in two chunks).

    Returns (id, chunk_no, n_tokens, chunk). Pure column expressions
    (split -> sequence of starts -> posexplode -> slice/join): zero
    shuffles, whole-stage codegen, linear in input bytes; the exploded
    (id, chunk_no) rows are the natural partitioning for a downstream
    embedding kernel."""
    if stride <= 0 or size <= 0 or stride > size:
        raise ValueError("need 0 < stride <= size")
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(words)
    n_chunks = F.when(n <= size, F.lit(1)).otherwise(
        F.ceil((n - size) / float(stride)) + 1
    )
    starts = F.sequence(F.lit(0), (n_chunks - 1) * stride, F.lit(stride))
    return docs.select(
        F.col(id_col),
        F.col(text_col).alias("__t"),
        F.posexplode(starts).alias("chunk_no", "start"),
    ).select(
        id_col,
        "chunk_no",
        F.least(F.lit(size), F.size(F.split(F.trim(F.col("__t")), r"\s+")) - F.col("start")).alias("n_tokens"),
        F.array_join(
            F.slice(F.split(F.trim(F.col("__t")), r"\s+"), F.col("start") + 1, size), " "
        ).alias("chunk"),
    )


def temperature_mix(
    df: DataFrame,
    total: int,
    key_col: str,
    source_col: str = "source",
    alpha: float = 0.5,
    salt: int | None = None,
) -> DataFrame:
    """Temperature-based source mixing: sample ~``total`` rows with
    per-source quotas proportional to ``count(source) ** alpha`` — the
    standard up/down-weighting recipe for multilingual / multi-domain
    training mixes (alpha=1 keeps natural proportions, alpha=0 is
    uniform per source; published practice, e.g. the multilingual
    temperature sampling of public mBERT/XLM-R recipes).

    Quotas are floor(total * w_s) with w_s = n_s^alpha / sum(n^alpha),
    capped at n_s; selection within a source is key-hash order (same
    deterministic contract as ``source_quota``, which does the actual
    cut — including its opt-in ``salt`` skew path). The per-source
    count aggregate collects #sources rows to the driver (tiny, like
    IVF's centroid fetch); everything row-scale stays distributed.
    """
    counts = {
        r["s"]: r["n"]
        for r in df.groupBy(F.col(source_col).alias("s"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    denom = sum(n**alpha for n in counts.values())
    caps = {
        s: min(n, int(total * (n**alpha) / denom)) for s, n in counts.items()
    }
    return source_quota(df, {**caps, "*": 0}, key_col, source_col, salt=salt)


def train_order(
    df: DataFrame,
    key_col: str,
    seed: int = 0,
    slices: int | None = None,
    rank_col: str = "rank",
) -> DataFrame:
    """Deterministic seeded global shuffle for training order: every row
    gets a dense global ``rank`` (0..n-1) following the seeded
    portable-hash order of its key — the "shuffle the corpus before
    training" step, reproducible across engines and runs (same seed,
    same order; different seed, a different permutation).

    Scale shape — a global row_number would serialize the corpus through
    one window partition, so this is the salted two-phase rank instead:
    (1) bucket rows by the seeded hash and RANGE-slice the hash space
    into ``slices`` contiguous chunks (hash-uniform => balanced);
    (2) per-slice counts (tiny: one row per slice) get prefix-summed
    into slice offsets — the only global window runs over that
    #slices-row table; (3) rank = slice offset + per-slice row_number,
    one shuffle of the data on the slice key. Ties inside a bucket
    break on the key itself, so the order is total and deterministic.
    """
    spark = df.sparkSession
    n_slices = slices or session_width(spark)
    width = ((1 << 31) + n_slices - 1) // n_slices
    b = portable_hash(F.col(key_col) + F.lit(seed * 10007), 1 << 31)
    t = df.withColumn("__b", b).withColumn(
        "__slice", F.floor(F.col("__b") / F.lit(width)).cast("int")
    )
    offs = (
        t.groupBy("__slice")
        .agg(F.count("*").alias("__n"))
        .select(
            "__slice",
            F.coalesce(
                F.sum("__n").over(
                    W.orderBy("__slice").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("__off"),
        )
    )
    rn = F.row_number().over(W.partitionBy("__slice").orderBy("__b", key_col))
    return (
        t.join(F.broadcast(offs), "__slice")
        .withColumn(rank_col, (F.col("__off") + rn - 1).cast("long"))
        .drop("__b", "__slice", "__off")
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k TF-IDF terms per document.

    tf = term count in doc; idf = ln((N+1)/(df+1)) + 1 (smoothed,
    scikit-learn convention).

    df is a groupBy(term) aggregate joined back onto tf — NOT a count
    window over term: stopwords put ~every doc's tf row into one
    un-splittable window partition, while the aggregate gets map-side
    partial combine and the fact-fact join gets AQE skew splitting.
    The join re-plans the tokenize pass (no exchange reuse across join
    sides), and still measured equal-or-faster than the window at
    sf0.1 — the same trade the jaccard/line-dedup guards take.
    """
    tokens = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = tokens.groupBy("id", "term").agg(F.count("*").alias("tf"))
    n_docs = docs.count()
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(df_tbl, "term")
    idf = F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1)) + 1.0
    scored = scored.withColumn("tfidf", F.col("tf") * idf)
    return topk_per_group(scored, "id", "tfidf", k, tie_cols=["term"]).select(
        "id", "term", F.round("tfidf", 6).alias("tfidf"), "rank"
    )


def bm25_top_terms(
    docs: DataFrame,
    k: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k Okapi BM25 terms per document (Robertson et al.; Lucene's
    non-negative idf form ``ln(1 + (N - df + .5)/(df + .5))``).

    Same scale shape as ``tfidf_top_terms``: df is a groupBy(term)
    aggregate joined back (map-side combined, AQE-splittable) — never a
    window over term (stopword partitions). Doc length is a
    ``sum(tf) over (partition by id)`` window on the ALREADY-AGGREGATED
    tf table — one small extra exchange of (doc, term) rows instead of
    carrying dl through the full token-stream shuffle, which measured
    2.8x faster at sf0.1 (5.0s -> 1.75s warm; the wide carry + first()
    agg dominated). The corpus constants N / total_tokens are collected
    ONCE driver-side as exact integers: ``dl/avgdl`` is expressed as
    ``dl*N/total`` so both engines evaluate the same rational in the
    same order — no pre-averaged float constant to drift.
    """
    arr = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = docs.select(
        F.col(id_col).alias("id"),
        F.explode(arr).alias("term"),
    ).filter(F.col("term") != "")
    tf = base.groupBy("id", "term").agg(F.count("*").alias("tf"))
    tf = tf.withColumn("dl", F.sum("tf").over(W.partitionBy("id")))
    totals = docs.select(
        F.count("*").alias("n"),
        F.sum(F.size(arr)).alias("tot"),
    ).collect()[0]
    n_docs, total_tokens = int(totals["n"]), int(totals["tot"])
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(df_tbl, "term")
    idf = F.log(
        1.0 + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (
        (1.0 - b) + b * (F.col("dl") * F.lit(float(n_docs)) / F.lit(float(total_tokens)))
    )
    scored = scored.withColumn("bm25", idf * (F.col("tf") * (k1 + 1.0)) / denom)
    return topk_per_group(scored, "id", "bm25", k, tie_cols=["term"]).select(
        "id", "term", F.round("bm25", 6).alias("bm25"), "rank"
    )


def _join_cuts_null_safe(df: DataFrame, cuts: DataFrame, by: list[str]) -> DataFrame:
    """Broadcast-join a per-group cuts table back onto the stream with
    NULL-SAFE key equality: groupBy emits a cuts row for the NULL group,
    but a plain equi-join never matches NULL = NULL, so rows with NULL
    group keys would silently vanish from a clamping/binning transform —
    a row-loss hazard. eqNullSafe (`<=>`) is still an equi-join
    condition to the planner, so the broadcast hash join is preserved."""
    if not by:
        return df.crossJoin(F.broadcast(cuts))
    cuts = cuts.select(
        *[F.col(k).alias(f"__k_{k}") for k in by],
        *[F.col(c) for c in cuts.columns if c not in by],
    )
    cond = F.col(by[0]).eqNullSafe(F.col(f"__k_{by[0]}"))
    for k in by[1:]:
        cond = cond & F.col(k).eqNullSafe(F.col(f"__k_{k}"))
    return df.join(F.broadcast(cuts), cond, "inner").drop(
        *[f"__k_{k}" for k in by]
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    by: str | list[str] | None = None,
    lo: float = 0.01,
    hi: float = 0.99,
    out_col: str | None = None,
) -> DataFrame:
    """Winsorize a numeric column at exact per-group percentiles — the
    outlier-clamping step of feature/label cleaning (cap the top/bottom
    tails instead of dropping rows).

    Scale shape: ONE sort-based percentile aggregate per group
    (partial-combined; the cuts table is #groups-sized) broadcast back
    onto the stream, then a pure codegen clamp — no window over the
    data, no second scan. Exact interpolated percentiles (Spark
    ``percentile`` == SQL percentile_cont == DuckDB quantile_cont), so
    the clamp bounds replay identically in any engine.

    Adds ``out_col`` (default ``{value_col}_w``) rounded to 6; rows
    keep their original value column.
    """
    if not 0.0 <= lo < hi <= 1.0:
        raise ValueError(f"need 0 <= lo < hi <= 1, got lo={lo}, hi={hi}")
    by = [] if by is None else ([by] if isinstance(by, str) else list(by))
    out_col = out_col or f"{value_col}_w"
    v = F.col(value_col)
    cuts = (
        df.groupBy(*[F.col(k) for k in by])
        .agg(
            F.expr(f"percentile({value_col}, {lo!r})").alias("__lo"),
            F.expr(f"percentile({value_col}, {hi!r})").alias("__hi"),
        )
    )
    joined = _join_cuts_null_safe(df, cuts, by)
    return joined.withColumn(
        out_col, F.round(F.least(F.greatest(v, F.col("__lo")), F.col("__hi")), 6)
    ).drop("__lo", "__hi")


def quantile_bins(
    df: DataFrame,
    value_col: str,
    k: int = 4,
    by: str | list[str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Equal-frequency discretization: assign each row its ``k``-tile
    bucket (0..k-1) from exact per-group percentile cuts — winsorize's
    sibling for feature binning.

    This is the SCALABLE ntile: the window ntile sorts the whole data
    exchange per group; here ONE sort-based percentile aggregate
    produces a (#groups x k-1) cuts table that broadcasts back, and
    bucket assignment is a pure codegen sum of compares
    (``sum(value > cut_i)``). Rows equal to a cut go DOWN (the <=
    convention), so bucket edges are deterministic and replay
    identically in any engine computing the same interpolated cuts.

    Adds ``out_col`` (default ``{value_col}_bin``, integer).
    """
    if k < 2:
        raise ValueError(f"quantile_bins() needs k >= 2, got {k}")
    by = [] if by is None else ([by] if isinstance(by, str) else list(by))
    out_col = out_col or f"{value_col}_bin"
    probs = [i / k for i in range(1, k)]
    cuts = df.groupBy(*[F.col(c) for c in by]).agg(
        *[
            F.expr(f"percentile({value_col}, {p!r})").alias(f"__c{i}")
            for i, p in enumerate(probs)
        ]
    )
    joined = _join_cuts_null_safe(df, cuts, by)
    bucket = sum(
        (F.col(value_col) > F.col(f"__c{i}")).cast("int") for i in range(k - 1)
    )
    return joined.withColumn(out_col, bucket.cast("int")).drop(
        *[f"__c{i}" for i in range(k - 1)]
    )


def bm25_search(
    docs: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 retrieval for a free-text ``query``: the top-``k``
    documents by summed per-term BM25 (Lucene's non-negative idf form,
    matching ``bm25_top_terms``) — the ranked-search twin of
    ``phrase_search``'s exact matcher.

    Scale shape: the token stream is pruned to the QUERY'S terms before
    any exchange (the posting-list prune — at corpus scale nearly every
    token drops at the scan), with doc length computed row-wise from
    the same split (no full-corpus token shuffle for dl, unlike the
    per-doc top-terms pass which needs every term). df per query term
    is a tiny aggregate; N / total_tokens are ONE driver-side exact
    count; the final top-k is TakeOrderedAndProject. Ranks order by
    un-rounded score with doc id tie-break; scores round to 6 for
    engine-stable comparison.

    Returns (id_col, n_terms_matched, score, rank).
    """
    terms = [t for t in query.lower().split() if t]
    if not terms:
        raise ValueError("bm25_search() needs a non-empty query")
    arr = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = docs.select(
        F.col(id_col).alias("id"),
        F.size(arr).alias("dl"),
        F.explode(arr).alias("term"),
    ).filter(F.col("term").isin(terms))
    tf = base.groupBy("id", "dl", "term").agg(F.count("*").alias("tf"))
    totals = docs.select(
        F.count("*").alias("n"), F.sum(F.size(arr)).alias("tot")
    ).collect()[0]
    n_docs, total_tokens = int(totals["n"]), int(totals["tot"])
    df_tbl = tf.groupBy("term").agg(F.countDistinct("id").alias("df"))
    idf = F.log(
        1.0 + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (
        (1.0 - b)
        + b * (F.col("dl") * F.lit(float(n_docs)) / F.lit(float(total_tokens)))
    )
    per_term = idf * (F.col("tf") * (k1 + 1.0)) / denom
    scored = (
        tf.join(F.broadcast(df_tbl), "term")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_terms_matched"),
            F.sum(per_term).alias("__score"),
        )
        .orderBy(F.col("__score").desc(), F.col("id"))
        .limit(k)
    )
    w = W.orderBy(F.col("__score").desc(), F.col("id"))
    return scored.withColumn("rank", F.row_number().over(w)).select(
        F.col("id").alias(id_col),
        "n_terms_matched",
        F.round("__score", 6).alias("score"),
        "rank",
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    threshold: float = 0.3,
    max_df: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All-pairs document cosine similarity over TF-IDF vectors
    (Bayardo et al. 2007's all-pairs problem, posting-list form).

    The bag-of-words twin of ``embedding_near_dups``: two documents are
    similar when the cosine of their tf-idf term vectors crosses
    ``threshold``. Emits (id_a, id_b, cos) with id_a < id_b, cosine
    rounded to 6 decimals BEFORE the threshold filter so both engines
    cut the same set.

    Scale shape (the jaccard posting-list recipe): tokenize ONCE, df as
    a groupBy(term) aggregate (map-side combined — never a count window
    over the term, stopwords are the hottest keys in the corpus), doc
    norms as one window riding the id exchange, then per-term posting
    lists expanded to (i < j) weight products. The pair exchange carries
    64-bit term hashes + two doubles, not term strings. ``max_df``
    df-prunes hot terms BEFORE the pair expansion (bounds every posting
    list; norms are computed before pruning, so pruning only lowers a
    pair's cosine — it can never promote a false pair). idf uses the
    smoothed scikit-learn convention ln((N+1)/(df+1))+1 with the TRUE
    df, so pruned terms still shape surviving weights identically.

    Reference analog: none (corpus-level op; the reference is a
    single-stream engine). This is the classic near-dup / similar-doc
    retrieval primitive over sparse lexical vectors.
    """
    tokens = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = tokens.groupBy("id", "term").agg(F.count("*").alias("tf"))
    n_docs = docs.count()
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    w_tbl = tf.join(df_tbl, "term").withColumn(
        "w",
        F.col("tf")
        * (F.log(F.lit(float(n_docs + 1)) / (F.col("df") + 1)) + 1.0),
    )
    # doc norm: one window on the id exchange (same ride-along as
    # jaccard's per-doc set size) — NOT a separate agg + re-join
    w_tbl = w_tbl.withColumn(
        "nrm", F.sqrt(F.sum(F.col("w") * F.col("w")).over(W.partitionBy("id")))
    )
    if max_df is not None:
        w_tbl = w_tbl.filter(F.col("df") <= max_df)
    dots = (
        _posting_pairs(
            w_tbl.select(F.xxhash64("term").alias("t"), "id", "w", "nrm"),
            ["t"], F.struct("id", "w", "nrm"),
            lambda x, y: F.struct(
                x.getField("id").alias("id_a"),
                x.getField("nrm").alias("na"),
                y.getField("id").alias("id_b"),
                y.getField("nrm").alias("nb"),
                (x.getField("w") * y.getField("w")).alias("ww"),
            ),
        )
        .groupBy("p.id_a", "p.id_b", "p.na", "p.nb")
        .agg(F.sum("p.ww").alias("dot"))
    )
    out = dots.withColumn(
        "cos", F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
    )
    return out.filter(F.col("cos") >= threshold).select("id_a", "id_b", "cos")


def dsir_logratio(
    docs: DataFrame,
    target: DataFrame,
    buckets: int = 1024,
    smoothing: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling").

    Scores every raw-corpus document by how target-like its hashed
    unigram distribution is:

        logw(doc) = sum over tokens t of
                    ln p_target(f(t)) - ln p_raw(f(t))

    with ``f`` = the engine-portable fingerprint fold mod ``buckets``
    (the ``hash_embed`` feature space) and add-``smoothing`` Laplace
    estimates over the bucket vocabulary. Downstream selection is
    composition: rank by logw (``train_order`` for a global order,
    or a threshold filter) and keep the target-like head.

    Scale shape: each side is tokenized ONCE and immediately reduced —
    the raw side to a (doc, bucket, count) aggregate (shuffles carry
    (id, int) pairs, never text), the target side straight to
    ``buckets`` rows. The feature log-ratio table is at most ``buckets``
    rows, so it broadcasts back onto the per-doc aggregate; corpus
    totals are collected driver-side as exact integers (two scalar
    rows, not data). At 100 TB the only data-sized exchange is the one
    (doc, bucket) hash aggregate.

    Returns (doc_id, logw) with logw rounded to 6 decimals. Reference
    analog: none (corpus op; public-recipe extension).
    """
    def _buckets(frame):
        from .text import fingerprint

        toks = frame.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
        ).filter(F.col("term") != "")
        return toks.select("id", (fingerprint(F.col("term")) % buckets).alias("bucket"))

    from pyspark import StorageLevel

    # persist both reduced tables: raw_db feeds the feature counts AND
    # the scoring join (one corpus text scan, not three — the persisted
    # form is (id, bucket, c) ints, orders smaller than the text), and
    # tgt_f is the classic buckets-sized cacheable dimension
    raw_db = (
        _buckets(docs)
        .groupBy("id", "bucket")
        .agg(F.count("*").alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    raw_f = raw_db.groupBy("bucket").agg(F.sum("c").alias("cr"))
    tgt_f = (
        _buckets(target)
        .groupBy("bucket")
        .agg(F.count("*").alias("ct"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tot_r = int(raw_f.agg(F.sum("cr")).collect()[0][0] or 0)
    tot_t = int(tgt_f.agg(F.sum("ct")).collect()[0][0] or 0)
    s = float(smoothing)
    w_tbl = (
        raw_f.join(tgt_f, "bucket", "left")
        .select(
            "bucket",
            (
                F.log((F.coalesce(F.col("ct"), F.lit(0)) + s) / F.lit(tot_t + s * buckets))
                - F.log((F.col("cr") + s) / F.lit(tot_r + s * buckets))
            ).alias("lw"),
        )
    )
    out = (
        raw_db.join(F.broadcast(w_tbl), "bucket")
        .groupBy("id")
        .agg(F.round(F.sum(F.col("c") * F.col("lw")), 6).alias("logw"))
    )
    return out.select(F.col("id").alias(id_col), "logw")


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    topn: int | None = None,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al. 2009) over N ranked lists
    — the standard hybrid-retrieval combiner (BM25 ⊕ ANN cosine ⊕ ...):
    ``rrf = sum over lists of 1e6 / (k + rank)``, in integer MICRO-units
    so the per-id sum is exact under any aggregation order and replays
    identically in any engine. Ids missing from a list simply contribute
    nothing (the RRF convention — no imputed ranks).

    Output: (id, rrf_micro, n_lists, fused_rank), fused_rank by
    descending score with ascending-id tie-break. ``topn`` bounds the
    result via one TakeOrdered pass.

    Scale shape: a unionByName of the (id, rank) projections, ONE
    partial-combined aggregate on id, then a top-n rank. The candidate
    union is lists-sized (each list is already a top-k), never
    corpus-sized — fusion cost is independent of corpus size.
    """
    if not rankings:
        raise ValueError("rrf_fuse() needs at least one ranking")
    parts = [
        r.select(
            F.col(id_col).alias("id"),
            F.floor(F.lit(1000000) / (F.lit(int(k)) + F.col(rank_col)))
            .cast("long")
            .alias("__c"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("id").agg(
        F.sum("__c").alias("rrf_micro"), F.count("*").alias("n_lists")
    )
    w = W.orderBy(F.col("rrf_micro").desc(), F.col("id"))
    out = fused.withColumn("fused_rank", F.row_number().over(w)).select(
        F.col("id").alias(id_col), "rrf_micro", "n_lists", "fused_rank"
    )
    if topn is not None:
        out = out.filter(F.col("fused_rank") <= int(topn))
    return out


def dedup_safe_split(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    clusters: DataFrame | None = None,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Train/val/test split keyed by the near-dup COMPONENT instead of
    the document: every member of a near-duplicate cluster lands in the
    SAME split, so a paraphrase of a training document can never leak
    into test — the contamination a doc-keyed ``split_by_hash`` permits
    and the decontamination battery only detects after the fact.

    Pass either ``pairs`` (any (id_a, id_b) near-dup table — minhash
    LSH, simhash, embedding near-dups; components are computed via
    ``dedup_clusters``) or precomputed ``clusters`` carrying a
    ``cluster_id`` column (e.g. ``fuzzy_dedup`` output). Singleton
    documents keep their own id as the component, so the output covers
    the whole corpus: ``(id, cluster_id, split)``.

    Scale shape: everything is the already-scale-shaped dedup pipeline
    (banded LSH + pointer-jumping CC with the driver fast path) plus
    ONE portable-hash projection on cluster_id — the split itself adds
    zero exchanges.
    """
    if (pairs is None) == (clusters is None):
        raise ValueError("pass exactly one of pairs= or clusters=")
    if clusters is None:
        from .dedup import dedup_clusters

        clusters = dedup_clusters(docs, pairs, id_col=id_col)
    return split_by_hash(
        clusters.select(id_col, "cluster_id"), "cluster_id", weights
    )
