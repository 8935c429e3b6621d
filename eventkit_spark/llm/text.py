"""Text analysis operators over document tables: token counting,
quality scoring, language ID, fingerprinting.

Everything is a JVM-side Column expression (regex + higher-order
functions) — no Python UDFs — so the full pipeline stays inside
whole-stage codegen and scales linearly with input bytes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..sources.tables import local_frame, read_parquet
from ._spread import spread as _spread

# Tiny public stopword marker sets per language (heuristic language ID).
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with"],
    "es": ["el", "la", "de", "que", "y", "los", "las", "por", "con"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "von"],
    "fr": ["le", "la", "les", "de", "et", "est", "pour", "que", "dans"],
}

EN_STOPWORDS = LANG_MARKERS["en"] + ["a", "an", "it", "on", "as", "at", "by", "be"]

# BPE-ish token regex: word pieces, numbers, or single non-space symbols —
# a public approximation of byte-pair pretokenization.
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def whitespace_token_count(text: Column) -> Column:
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish pretokens via regexp_count (JVM regex engine)."""
    return F.regexp_count(text, F.lit(BPE_REGEX))


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    p = F.length(F.regexp_replace(text, r"[^.,;:!?'\"()\[\]{}-]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(p / n)


def stopword_ratio(text: Column) -> Column:
    words = F.split(F.lower(F.trim(text)), r"\s+")
    n = F.size(words)
    sw = F.size(F.filter(words, lambda w: w.isin(*EN_STOPWORDS)))
    return F.when(n <= 0, F.lit(0.0)).otherwise(sw / n)


def mean_word_length(text: Column) -> Column:
    words = F.split(F.lower(F.trim(text)), r"\s+")
    n = F.size(words)
    total = F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
    return F.when(n <= 0, F.lit(0.0)).otherwise(total / n)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + word-length band +
    low punctuation + some stopwords (public C4/Gopher-style rules)."""
    n_words = whitespace_token_count(text)
    mwl = mean_word_length(text)
    score = (
        F.when((n_words >= 10) & (n_words <= 100000), 0.25).otherwise(0.0)
        + F.when((mwl >= 3) & (mwl <= 10), 0.25).otherwise(0.0)
        + F.when(punct_ratio(text) <= 0.1, 0.25).otherwise(0.0)
        + F.when(stopword_ratio(text) >= 0.05, 0.25).otherwise(0.0)
    )
    return score


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax of per-language marker-word hits
    (deterministic tie-break by language code order en<es<de<fr ...
    lexicographic on (count desc, code asc))."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    scored = F.array(
        *[
            F.struct(
                (-F.size(F.filter(words, lambda w: w.isin(*markers)))).alias("neg"),
                F.lit(code).alias("code"),
            )
            for code, markers in sorted(LANG_MARKERS.items())
        ]
    )
    best = F.element_at(F.array_sort(scored), 1)
    return F.when(best.getField("neg") == 0, F.lit("und")).otherwise(best.getField("code"))


def fingerprint(text: Column, mod: int = (1 << 31) - 1, base: int = 31) -> Column:
    """Deterministic rolling polynomial hash over characters:
    h = fold(h*base + code) mod 2^31-1 — an engine-portable document
    fingerprint (same fold is expressible in ANSI SQL / DuckDB; modulus
    kept under 2^31 so acc*31+code never overflows int64)."""
    # split leaves a trailing '' element — drop empties before folding
    chars = F.filter(F.split(text, "(?!^)"), lambda c: c != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * base + F.ascii(c)) % F.lit(mod),
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    mod: int = (1 << 31) - 1,
    base: int = 31,
    impl: str = "kernel",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003 — the MOSS algorithm): per-position character ``k``-gram
    polynomial hashes, then from every window of ``w`` consecutive
    hashes select the minimum (RIGHTMOST occurrence on ties — the
    paper's convention), dedup the selections. Guarantees any shared
    substring of length >= w+k-1 contributes at least one common
    fingerprint, with density ~2/(w+1) — the standard near-copy /
    provenance fingerprint.

    Returns ``(id, pos, fp)``: 0-based k-gram start position and the
    31-bit hash. Docs shorter than ``k`` yield no rows; docs with
    fewer than ``w`` hashes winnow their single clipped window.

    Scale shape: ONE pass with zero exchanges — documents are
    independent. The default engine is a vectorized Arrow kernel
    (``impl="kernel"``): code points via utf-32 reinterpret, the
    polynomial hashes as k column-shifted modular adds, window minima
    via a stride view — numpy throughput instead of Spark's
    interpreted higher-order lambdas (the ``impl="column"`` pure
    Column-expression form computes the identical rows ~10x slower;
    parity-pinned). The same integer fold replays in ANSI SQL
    (window-min + rightmost-tie join formulation).
    """
    if k < 1 or w < 1:
        raise ValueError(f"need k >= 1 and w >= 1, got k={k}, w={w}")
    if impl == "kernel":
        return _winnow_kernel_df(docs, k, w, text_col, id_col, mod, base)
    if impl != "column":
        raise ValueError(f"impl must be 'kernel' or 'column', got {impl!r}")
    text = F.col(text_col)
    n = F.length(text)
    m = n - k + 1  # number of k-grams
    # per-position k-gram poly hash: fold k char codes (0-seeded fold
    # == fold seeded with the first code, kept identical to
    # ``fingerprint`` so oracles share the arithmetic)
    hs_expr = F.transform(
        F.sequence(F.lit(1), m),
        lambda i: F.aggregate(
            F.sequence(F.lit(0), F.lit(k - 1)),
            F.lit(0).cast("long"),
            lambda acc, o: (acc * base + F.ascii(F.substr(text, i + o, F.lit(1))))
            % F.lit(mod),
        ),
    )
    # MATERIALIZE the hash array as a projection step: referencing the
    # transform expression inside the window lambdas would inline (and
    # re-evaluate) the whole O(n*k) hash build per window reference —
    # quadratic blowup. Two stacked selects keep each array built once.
    staged = docs.filter(n >= F.lit(k)).select(
        F.col(id_col), hs_expr.alias("__hs")
    )
    hs = F.col("__hs")
    n_win = F.greatest(F.size(hs) - w + 1, F.lit(1))
    # per window: min of the (clipped) w-slice built once per window via
    # a nested struct fold — (rightmost argmin offset, min value)
    sel = F.transform(
        F.sequence(F.lit(0), n_win - 1),
        lambda j: F.aggregate(
            F.slice(hs, j + 1, w),
            F.struct(
                F.lit(-1).alias("o"),
                F.lit(None).cast("long").alias("mv"),
                F.lit(0).alias("i"),
            ),
            # <= keeps the RIGHTMOST occurrence of the running min
            lambda st, v: F.struct(
                F.when(st["mv"].isNull() | (v <= st["mv"]), st["i"])
                .otherwise(st["o"])
                .alias("o"),
                F.when(st["mv"].isNull() | (v <= st["mv"]), v)
                .otherwise(st["mv"])
                .alias("mv"),
                (st["i"] + 1).alias("i"),
            ),
            lambda st: F.struct(
                (j + st["o"]).cast("int").alias("pos"),
                st["mv"].alias("fp"),
            ),
        ),
    )
    out = staged.select(
        F.col(id_col), F.explode(F.array_distinct(sel)).alias("__s")
    )
    return out.select(
        F.col(id_col),
        F.col("__s.pos").alias("pos"),
        F.col("__s.fp").alias("fp"),
    )


def _winnow_kernel_df(docs, k, w, text_col, id_col, mod, base):
    """Vectorized winnowing kernel: identical integers to the Column
    form — code points (= what ``F.ascii`` folds) via a utf-32
    reinterpret, hashes as k shifted modular column adds (congruent to
    the stepwise fold), window minima + RIGHTMOST argmin via a reversed
    stride view, per-doc unique (pos, fp) pairs."""
    import numpy as np
    import pandas as pd

    powers = [pow(base, k - 1 - o, mod) for o in range(k)]

    def kern(batches):
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batches:
            ids, poss, fps = [], [], []
            for did, text in zip(pdf["__id"], pdf["__text"]):
                if text is None or len(text) < k:
                    continue
                codes = np.frombuffer(
                    text.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                m = len(codes) - k + 1
                h = np.zeros(m, dtype=np.int64)
                for o in range(k):
                    h = (h + codes[o:o + m] * powers[o]) % mod
                we = min(w, m)
                win = sliding_window_view(h, we)  # (m-we+1, we)
                mv = win.min(axis=1)
                # rightmost argmin: first min of the reversed window
                ro = we - 1 - np.argmin(win[:, ::-1], axis=1)
                pos = np.arange(len(mv)) + ro
                uniq = np.unique(np.stack([pos, mv], axis=1), axis=0)
                ids.extend([did] * len(uniq))
                poss.extend(uniq[:, 0].tolist())
                fps.extend(uniq[:, 1].tolist())
            yield pd.DataFrame(
                {"__id": pd.Series(ids),
                 "pos": pd.Series(poss, dtype="int32"),
                 "fp": pd.Series(fps, dtype="int64")}
            )

    id_t = docs.schema[id_col].dataType.simpleString()
    base_df = docs.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
    )
    # The hash kernel is CPU-bound and documents are independent, so
    # its parallelism is whatever the SCAN gives it — and a small
    # single-row-group parquet reads as ONE split, serializing the
    # whole corpus through one core (measured 2.1-4.5 s at sf0.1 vs
    # 0.8-1.4 s spread over 32 tasks). Same remedy as the multimodal
    # decode kernels — now the SHARED guarded helper (llm/_spread.py):
    # round-robin repartition only when a scan-shaped input has fewer
    # partitions than the session width; streaming frames and
    # non-scan upstreams are left untouched. At warehouse scale the
    # ingest has far more splits than cores, the check never fires,
    # and no text bytes are reshuffled.
    base_df = _spread(base_df)
    return base_df.mapInPandas(
        kern, schema=f"__id {id_t}, pos int, fp long"
    ).select(F.col("__id").alias(id_col), "pos", "fp")


def winnow_overlap(
    docs_a: DataFrame,
    docs_b: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 1,
    max_df: int | None = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MOSS-style cross-corpus overlap detection: pairs of documents
    sharing at least ``min_shared`` winnowing fingerprints —
    ``(id_a, id_b, n_shared)``. By the winnowing guarantee, any copied
    span of length >= w+k-1 chars surfaces the pair.

    Scale shape: the per-side fingerprint extraction is exchange-free
    (winnow_fingerprints); each side collapses to its DISTINCT
    (id, fp) posting set, and the pair expansion is an equi-join on
    the fingerprint — NOT an a⋈b document cross join. ``max_df``
    prunes fingerprints present in more than that many documents
    across both sides (boilerplate/license headers — the classic hot
    posting guard; every surviving pair is exact, dropped fps are the
    non-discriminative ones). Set ``max_df=None`` to disable.
    """
    fa = (
        winnow_fingerprints(docs_a, k, w, text_col, id_col)
        .select(F.col(id_col).alias("id_a"), "fp")
        .distinct()
    )
    fb = (
        winnow_fingerprints(docs_b, k, w, text_col, id_col)
        .select(F.col(id_col).alias("id_b"), "fp")
        .distinct()
    )
    if max_df is not None:
        df_tot = (
            fa.select("fp").unionAll(fb.select("fp"))
            .groupBy("fp")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("fp")
        )
        fa = fa.join(df_tot, "fp")
    return (
        fa.join(fb, "fp")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def repetition_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-word
    fraction, most-frequent-word fraction, most-frequent-bigram fraction.

    Formulated as explode -> two hash aggregates (per (doc, gram) then
    per doc) instead of per-row higher-order array functions: the
    aggregates get whole-stage codegen + map-side partial aggregation,
    so the shuffles carry one row per distinct gram per doc. Repetitious
    machine-generated text scores high on all three; filter with e.g.
    ``top_bigram_frac < 0.18`` (public Gopher rule thresholds).
    """
    # words and bigrams ride ONE tagged gram stream: the per-(doc, gram)
    # count and the per-doc rollup are 2 shuffles total with conditional
    # aggregates — the separate word/bigram pipelines + join planned 5.
    # The two branches union BEFORE the shuffle (each one a codegen'd
    # split/regex + explode; a single-pass higher-order transform/concat
    # formulation ran interpreted and measured ~2x slower).
    words = docs.select(
        F.col(id_col).alias("id"),
        F.lit("w").alias("t"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("g"),
    ).filter(F.col("g") != "")
    bigr = docs.select(
        F.col(id_col).alias("id"),
        F.lit("b").alias("t"),
        F.explode(_bigrams(F.col(text_col))).alias("g"),
    )
    grams = words.unionByName(bigr)
    counts = grams.groupBy("id", "t", "g").agg(F.count("*").alias("c"))
    is_w = F.col("t") == "w"
    stats = counts.groupBy("id").agg(
        F.sum(F.when(is_w, F.col("c"))).alias("n_words"),
        F.count(F.when(is_w, F.lit(1))).alias("n_distinct"),
        F.max(F.when(is_w, F.col("c"))).alias("top_c"),
        F.sum(F.when(~is_w, F.col("c"))).alias("n_bigrams"),
        F.max(F.when(~is_w, F.col("c"))).alias("top_bc"),
    )
    nz = F.greatest(F.col("n_words"), F.lit(1))
    return stats.filter(F.col("n_words").isNotNull()).select(
        F.col("id").alias(id_col),
        F.col("n_words"),
        F.round(1 - F.col("n_distinct") / nz, 6).alias("dup_word_frac"),
        F.round(F.col("top_c") / nz, 6).alias("top_word_frac"),
        F.round(F.col("top_bc") / F.greatest(F.col("n_bigrams"), F.lit(1)), 6).alias(
            "top_bigram_frac"
        ),
    )


def _bigrams(text: Column) -> Column:
    """Overlapping word bigrams (duplicates preserved), one regex pass —
    same lookahead trick as dedup._shingles; single-word/empty text
    falls back to the whole normalized string."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    grams = F.regexp_extract_all(norm, F.lit(r"(?=(\S+ \S+))\S+"), 1)
    return F.when(F.size(grams) > 0, grams).otherwise(F.array(norm))


def hash_embed(
    docs: DataFrame, dim: int = 64, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Feature-hashing text embedder (the hashing trick, Weinberger et
    al. 2009): token -> bucket = portable_fingerprint(token) % dim, tf
    weights, L2-normalized. The deterministic documents -> embeddings
    bridge for the similarity ops when no model is in the loop.

    Returns SPARSE rows (id, bucket, w) — engine-portable and exactly
    oracle-checkable (the fingerprint fold is plain integer arithmetic
    in any SQL dialect); densify with ``densify_embedding`` to feed the
    ANN/near-dup operators. Two hash aggregates + one norm window, all
    linear; the shuffles carry (id, bucket) pairs, never text.
    """
    tokens = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    b = tokens.select("id", (fingerprint(F.col("term")) % dim).alias("bucket"))
    tf = b.groupBy("id", "bucket").agg(F.count("*").alias("c"))
    from pyspark.sql import Window as W

    nrm = F.sqrt(F.sum(F.col("c") * F.col("c")).over(W.partitionBy("id")))
    return tf.select(
        F.col("id").alias(id_col),
        "bucket",
        F.round(F.col("c") / nrm, 6).alias("w"),
    )


def densify_embedding(sparse: DataFrame, dim: int = 64, id_col: str = "doc_id") -> DataFrame:
    """(id, bucket, w) sparse rows -> (id, embedding array<double>) for
    the similarity operators: one collect into a map, one sequence
    transform — no Python."""
    m = sparse.groupBy(id_col).agg(
        F.map_from_arrays(F.collect_list("bucket"), F.collect_list("w")).alias("__m")
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.col("__m")[i.cast("long")], F.lit(0.0)),
    )
    return m.select(F.col(id_col), vec.alias("embedding"))


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Line-level dedup across the whole corpus (public CCNet / Dolma
    paragraph-dedup practice): every distinct line survives exactly once,
    at its first (doc, position) occurrence; later copies — boilerplate
    headers, navigation chrome, license blocks — are dropped and the
    documents are reassembled from their surviving lines.

    Returns (id, n_lines, n_kept, text) for every input doc (docs losing
    all lines keep an empty string — filter on ``n_kept`` downstream).

    Scale shape — built for the op's OWN skew: a boilerplate line is by
    definition a hot key, so the first-occurrence computation must not
    be a window over the line hash (a window partition cannot be split;
    the hottest line's every copy lands in one task). The r8 form is
    the substring_dedup in-row rebuild (dedup.py's r7 shape): line
    TEXT never enters a shuffle —
    (1) lines hash IN PLACE on the doc's own line array, and only
    (id, pos, hash) int rows explode; (2) groupBy(hash) -> min(id,
    pos) with MAP-SIDE partials, so a million copies of one line
    collapse per input partition before the exchange; (3) the
    join-back marks later occurrences and their (id, pos) ints
    aggregate to one removed-set per affected doc; (4) array_except
    keeps surviving positions in order and the text re-joins inside
    the row. Replaced the r3 form, whose hash join-back and
    groupBy(id) rebuild both carried every line's bytes (4x wall at
    sf0.1; exchanges now move 8-byte hashes and int pairs only).
    Hash-grouping assumes no 64-bit collisions (standard corpus-dedup
    trade, same as exact_dedup). NULL text normalizes to an empty doc
    (0 lines, empty string) so every input id is reported.
    """
    raw = F.split(F.col(text_col), sep)
    larr = F.coalesce(raw, F.array().cast("array<string>"))
    base = docs.select(
        F.col(id_col).alias("id"),
        larr.alias("__lines"),
        F.size(larr).alias("n_lines"),
    )
    occ = base.select(
        "id",
        F.posexplode(F.transform("__lines", lambda l: F.xxhash64(l))).alias(
            "pos", "h"
        ),
    )
    firsts = occ.groupBy("h").agg(F.min(F.struct("id", "pos")).alias("f"))
    dups = (
        occ.join(firsts, "h")
        .filter(~((F.col("f.id") == F.col("id")) & (F.col("f.pos") == F.col("pos"))))
        .select("id", "pos")
    )
    rem = dups.groupBy("id").agg(F.collect_set("pos").alias("__rem"))
    kept_pos = F.array_except(
        F.when(
            F.col("n_lines") > 0, F.sequence(F.lit(0), F.col("n_lines") - 1)
        ).otherwise(F.array().cast("array<int>")),
        F.coalesce(F.col("__rem"), F.array().cast("array<int>")),
    )
    return base.join(rem, "id", "left").select(
        F.col("id").alias(id_col),
        "n_lines",
        F.size(kept_pos).alias("n_kept"),
        F.array_join(
            F.transform(kept_pos, lambda p: F.element_at("__lines", p + 1)),
            sep,
        ).alias("text"),
    )


# PII patterns: RE2-compatible (no lookaround) so the same regexes run
# in Spark (Java regex) and any RE2 engine (DuckDB, Go) — public Dolma/
# CCNet-style scrubbing rules.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+?[0-9][0-9()\[\] .-]{6,14}[0-9]\b",
}


def redact_pii(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Scrub emails / IPv4s / phone-shaped digit runs, the standard
    pre-training redaction pass: each match is replaced by a typed
    token (``<EMAIL>``, ``<IP>``, ``<PHONE>``) and per-category match
    counts ride alongside for audit. Pure JVM regexp_replace chain —
    one codegen'd projection, no shuffle, linear in input bytes.

    Replacement order is email -> ip -> phone, and each count is
    measured on the text AS THAT STAGE SEES IT — so ``n_X`` equals the
    number of ``<X>`` tokens inserted, and an IPv4 never double-counts
    as a phone-shaped digit run."""
    red = F.col(text_col)
    counts = []
    for name, p in PII_PATTERNS.items():
        counts.append(F.regexp_count(red, F.lit(p)).alias(f"n_{name}"))
        red = F.regexp_replace(red, p, f"<{name.upper()}>")
    return docs.select(F.col(id_col), *counts, red.alias("text"))


def unigram_logprob(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc mean unigram log-likelihood under the corpus's OWN
    unigram LM — the cheap perplexity proxy used for quality filtering
    in public pipelines (CCNet's LM-based filtering; perplexity =
    exp(-avg_logprob)). Garbled/rare-token docs score low, boilerplate
    scores high; filter or stratify on the score downstream.

    Returns (id, n_tokens, avg_logprob) with avg_logprob rounded to 6
    decimals (absorbs parallel-sum reassociation, keeps the column
    engine-comparable).

    Scale shape: TWO corpus scans (vocabulary count + scoring — same
    documented trade as `contamination`'s join path: a single-scan form
    needs per-token doc lists, which a hot stopword makes unbounded).
    The vocabulary table is persisted MEMORY_AND_DISK — it is the
    classic cacheable dimension, vocabulary-sized not corpus-sized — so
    its aggregate runs once and the one-row total reads the cache
    instead of paying a third scan. Token counts are map-side-partial
    hash aggregates (hot stopwords collapse per partition before the
    shuffle); the (doc, token) pre-aggregate bounds the scoring join's
    per-token fan-out at n_docs and AQE splits what's left. No windows,
    no Python.
    """
    from pyspark import StorageLevel

    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    cnt = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tot = cnt.agg(F.sum("c").alias("n"))
    dt = toks.groupBy("id", "tok").agg(F.count("*").alias("c_dt"))
    logp = F.log(F.col("c").cast("double") / F.col("n"))
    return (
        dt.join(cnt, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("id")
        .agg(
            F.sum("c_dt").alias("n_tokens"),
            F.round(F.sum(F.col("c_dt") * logp) / F.sum("c_dt"), 6).alias("avg_logprob"),
        )
        .select(F.col("id").alias(id_col), "n_tokens", "avg_logprob")
    )


def perplexity_buckets(
    docs: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    approx: bool = False,
) -> DataFrame:
    """CCNet-style head/middle/tail corpus bucketing (public CCNet
    recipe): score every doc with the corpus unigram LM
    (`unigram_logprob`), cut each LANGUAGE at its 1/3 and 2/3 score
    percentiles, and label docs head (most natural text), middle, or
    tail. Downstream recipes train on head+middle or reweight by bucket.

    Returns (id, lang, avg_logprob, bucket).

    ``approx=False`` uses exact interpolated percentiles (matches
    DuckDB's quantile_cont — the oracle-checkable form; per-language
    aggregate state is O(distinct scores)). At 100 TB flip
    ``approx=True``: approx_percentile is a fixed-size sketch and the
    cutoffs don't need exactness in production. The cutoff table is one
    row per language — broadcast back, no second corpus shuffle. The
    doc-level score table feeds both the cutoff aggregate and the final
    labeling, so it is persisted MEMORY_AND_DISK (one narrow row per
    doc — doc-scale, not token-scale) rather than re-running the
    scoring pipeline twice."""
    from pyspark import StorageLevel

    scored = unigram_logprob(docs, text_col, id_col)
    wl = scored.join(docs.select(id_col, lang_col), id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if approx:
        cuts = F.approx_percentile(
            "avg_logprob", F.array(F.lit(1.0 / 3), F.lit(2.0 / 3)), F.lit(10000)
        )
    else:
        cuts = F.percentile("avg_logprob", F.array(F.lit(1.0 / 3), F.lit(2.0 / 3)))
    ct = wl.groupBy(lang_col).agg(cuts.alias("__c"))
    return (
        wl.join(F.broadcast(ct), lang_col)
        .select(
            id_col,
            lang_col,
            "avg_logprob",
            F.when(F.col("avg_logprob") >= F.element_at("__c", 2), "head")
            .when(F.col("avg_logprob") >= F.element_at("__c", 1), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )


def c4_filters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = 5,
    min_kept_lines: int = 3,
    line_blocklist: tuple[str, ...] = ("javascript",),
    doc_blocklist: tuple[str, ...] = ("lorem ipsum", "{"),
    sep: str = "\n",
) -> DataFrame:
    """C4-style heuristic cleaning (public rules from the T5/C4 paper,
    sec 2.2): keep only lines that end in terminal punctuation, have at
    least ``min_line_words`` words, and mention no ``line_blocklist``
    term; drop whole documents whose ORIGINAL text contains any
    ``doc_blocklist`` term (boilerplate markers like "lorem ipsum" or
    code braces) or that retain fewer than ``min_kept_lines`` lines.

    Returns (id, n_lines, n_kept, text) for surviving docs, with
    ``text`` rebuilt from the kept lines in order.

    Scale shape: one codegen'd projection + filter — split and a
    higher-order line filter run in place, so the pass is a pure scan
    with ZERO exchanges and no Python; it composes ahead of any dedup
    stage without adding a shuffle. The line predicate is RE2-compatible
    (no lookaround), so the identical rules run in DuckDB/Go pipelines.
    """
    lines = F.split(F.col(text_col), sep)

    def _keep(x):
        cond = (
            x.rlike(r'[.!?"]\s*$')
            & (F.size(F.split(F.trim(x), r"\s+")) >= min_line_words)
        )
        for term in line_blocklist:
            cond = cond & ~F.lower(x).contains(term.lower())
        return cond

    kept = F.filter(lines, _keep)
    doc_ok = F.lit(True)
    for term in doc_blocklist:
        # on the ORIGINAL text, before the select renames the rebuilt one
        doc_ok = doc_ok & ~F.lower(F.col(text_col)).contains(term.lower())
    return (
        docs.filter(doc_ok)
        .select(
            F.col(id_col).alias("id"),
            F.size(lines).alias("n_lines"),
            F.size(kept).alias("n_kept"),
            F.array_join(kept, sep).alias("text"),
        )
        .filter(F.col("n_kept") >= min_kept_lines)
        .select(F.col("id").alias(id_col), "n_lines", "n_kept", "text")
    )


def top_ngrams(
    docs: DataFrame,
    n: int = 1,
    k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide top-``k`` word ``n``-grams with counts — the vocab /
    merge-candidate pass of tokenizer training.

    explode -> ONE hash aggregate (map-side combined) -> global top-k.
    The top-k is orderBy+limit, which Spark plans as
    TakeOrderedAndProject: per-partition heaps merged on the driver —
    no global sort, no single-task shuffle. Ties break by gram text for
    determinism."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    if n == 1:
        grams = docs.select(F.explode(words).alias("gram")).filter(F.col("gram") != "")
    else:
        joined = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
        pat = r"(?=(" + r" ".join([r"\S+"] * n) + r"))\S+"
        grams = docs.select(
            F.explode(F.regexp_extract_all(joined, F.lit(pat), 1)).alias("gram")
        )
    from pyspark.sql import Window as W

    counts = grams.groupBy("gram").agg(F.count("*").alias("cnt"))
    top = counts.orderBy(F.col("cnt").desc(), F.col("gram")).limit(k)
    # rank window runs over the already-limited k rows — one tiny task
    return top.withColumn(
        "rank", F.row_number().over(W.orderBy(F.col("cnt").desc(), F.col("gram")))
    )


def phrase_search(
    docs: DataFrame,
    phrase: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact multi-word phrase match via a positional inverted index —
    the mini-search-engine primitive (find every document containing
    the words of ``phrase`` consecutively, with occurrence counts).

    Single-pass anchor aggregation instead of an n-way posting join:
    posexplode the token stream, keep ONLY the phrase's terms (the
    posting-list prune — at corpus scale this drops almost every
    token before any shuffle), map each hit of phrase-term j at
    position p to candidate anchor p - j, then one (doc, anchor)
    aggregate: an anchor holding all n distinct term indexes is one
    occurrence. Handles repeated words in the phrase (a hit fans out
    to every index its word occupies) and overlapping occurrences.

    Scale shape: one scan, the explode output is filtered to phrase
    terms BEFORE the exchange, then two integer-keyed hash aggregates
    ((doc, anchor) then doc) — no self-join, no window over the corpus.

    Returns (id_col, n_matches) for documents with >= 1 occurrence.
    """
    words = phrase.lower().split()
    if not words:
        raise ValueError("phrase_search() needs a non-empty phrase")
    n = len(words)
    by_word: dict[str, list[int]] = {}
    for j, w in enumerate(words):
        by_word.setdefault(w, []).append(j)
    toks = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
            "__p", "__w"
        ),
    ).filter(F.col("__w").isin(list(by_word)))
    idx_map = F.create_map(
        *[
            c
            for w, js in by_word.items()
            for c in (F.lit(w), F.array(*[F.lit(j) for j in js]))
        ]
    )
    hits = toks.select(
        F.col(id_col),
        F.col("__p"),
        F.explode(idx_map[F.col("__w")]).alias("__j"),
    )
    anchors = (
        hits.groupBy(F.col(id_col), (F.col("__p") - F.col("__j")).alias("__a"))
        .agg(F.countDistinct("__j").alias("__k"))
        .filter((F.col("__a") >= 0) & (F.col("__k") == n))
    )
    return anchors.groupBy(id_col).agg(F.count("*").cast("long").alias("n_matches"))


def normalize_text(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    form: str = "NFC",
    collapse_ws: bool = True,
) -> DataFrame:
    """Unicode normalization + whitespace cleanup — the standard first
    preprocessing pass of a text pipeline (decomposed accents, ligature
    and width variants, stray control whitespace all collapse to one
    canonical byte form, so hashes/dedup/shingles downstream see ONE
    representation of visually-identical text).

    ``form`` is any unicodedata form (NFC default; NFKC folds
    compatibility variants too). Spark has no normalization builtin, so
    this is one Arrow kernel per partition (pandas string pass) —
    ZERO shuffles, parallelism = input splits. ``collapse_ws`` also
    squeezes runs of whitespace to single spaces and trims (the C4/
    CCNet convention). Returns ``(id_col, text_col)`` with the text
    replaced.

    The NFC form replays in DuckDB (``nfc_normalize`` — both sides
    implement UAX #15), which is what gives the driver contract a full
    value oracle.
    """
    import unicodedata

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    src = docs.select(F.col(id_col), F.col(text_col))
    schema = src.schema

    def kernel(batches):
        for pdf in batches:
            txt = pdf[text_col].map(
                lambda s: None
                if s is None
                else unicodedata.normalize(form, s)
            )
            if collapse_ws:
                txt = txt.str.replace(r"\s+", " ", regex=True).str.strip()
            pdf[text_col] = txt
            yield pdf

    return src.mapInPandas(kernel, schema)


def phrase_hits(
    docs: DataFrame,
    phrases,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Multi-phrase exact matching in ONE corpus scan — the batch
    blocklist / quote-detection shape (``phrase_search`` generalized
    from one phrase to hundreds: looping it would re-scan the corpus
    per phrase).

    Same anchor aggregation, phrase-tagged: the (phrase, term-index,
    word) dimension is a driver-built BROADCAST table (kilobytes for
    thousands of phrases), the token posexplode prunes against it
    map-side before any exchange, each surviving hit of phrase i's
    term j at position p votes for candidate anchor p - j, and one
    (doc, phrase, anchor) aggregate keeps anchors holding ALL of the
    phrase's distinct term indexes. Repeated words inside a phrase fan
    out to every index they occupy; overlapping occurrences count
    separately — identical semantics to phrase_search per phrase
    (parity-tested).

    Returns ``(id_col, phrase, n_matches)`` for docs with >= 1 match.
    """
    if not phrases:
        raise ValueError("phrase_hits() needs a non-empty phrase list")
    terms, lens = [], []
    for pid, ph in enumerate(phrases):
        words = str(ph).lower().split()
        if not words:
            raise ValueError(f"empty phrase at index {pid}")
        lens.append((pid, str(ph), len(words)))
        for j, w in enumerate(words):
            terms.append((pid, j, w))
    spark = docs.sparkSession
    tdim = local_frame(spark, terms, "pid int, j int, w string")
    ldim = local_frame(spark, lens, "pid int, phrase string, n int")
    toks = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("__p", "w"),
    )
    hits = toks.join(F.broadcast(tdim), "w")
    anchors = (
        hits.groupBy(F.col(id_col), "pid", (F.col("__p") - F.col("j")).alias("__a"))
        .agg(F.count_distinct("j").alias("__k"))
        .filter(F.col("__a") >= 0)
    )
    full = anchors.join(F.broadcast(ldim), "pid").filter(F.col("__k") == F.col("n"))
    return full.groupBy(id_col, "phrase").agg(
        F.count("*").cast("long").alias("n_matches")
    )


def blocklist_verdicts(
    docs: DataFrame,
    terms,
    phrases,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document moderation flags against a single-term blocklist AND
    a multi-word phrase blocklist in ONE corpus scan — the fused form of
    ``keyword_hits`` + ``phrase_hits`` (composing those two as separate
    calls plans the text scan twice; a moderation gate always wants
    both lists).

    One unified broadcast dimension carries every matcher: a term is a
    length-1 "phrase" (j=0, n=1), so the identical anchor-vote
    aggregate serves both — each token hit of matcher i's word j at
    position p votes for anchor p - j, and an anchor holding all n
    distinct indexes is one match. The token posexplode prunes against
    the dim map-side before any exchange (at corpus scale almost every
    token drops there); matching is on lowercase whitespace tokens,
    identical to the two parent ops (parity-pinned in
    ``test_blocklist_verdicts_parity``).

    Returns ``(id_col, term_hits, phrase_hits)`` for documents with at
    least one hit of either kind; clean documents are absent (anti-join
    the result to gate a corpus). Counts are occurrence totals across
    each list, exactly ``sum(keyword_hits.n_hits)`` /
    ``sum(phrase_hits.n_matches)`` per document."""
    if not terms and not phrases:
        raise ValueError("blocklist_verdicts() needs terms and/or phrases")
    dim_rows, len_rows = [], []
    mid = 0
    seen_terms, seen_phrases = set(), set()
    for t in terms or []:
        w = str(t).lower().strip()
        if not w or " " in w:
            raise ValueError(
                f"term {t!r} is empty or multi-word — multi-word entries "
                "belong in phrases="
            )
        if w in seen_terms:  # dedup like keyword_hits' kw.distinct()
            continue
        seen_terms.add(w)
        dim_rows.append((mid, 0, w))
        len_rows.append((mid, 0, 1))
        mid += 1
    for ph in phrases or []:
        words = tuple(str(ph).lower().split())
        if not words:
            raise ValueError(f"empty phrase {ph!r}")
        if words in seen_phrases:
            continue
        seen_phrases.add(words)
        for j, w in enumerate(words):
            dim_rows.append((mid, j, w))
        len_rows.append((mid, 1, len(words)))
        mid += 1
    spark = docs.sparkSession
    tdim = local_frame(spark, dim_rows, "mid int, j int, w string")
    ldim = local_frame(spark, len_rows, "mid int, is_phrase int, n int")
    toks = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("__p", "w"),
    )
    hits = toks.join(F.broadcast(tdim), "w")
    anchors = (
        hits.groupBy(F.col(id_col), "mid", (F.col("__p") - F.col("j")).alias("__a"))
        .agg(F.count_distinct("j").alias("__k"))
        .filter(F.col("__a") >= 0)
    )
    matches = (
        anchors.join(F.broadcast(ldim), "mid")
        .filter(F.col("__k") == F.col("n"))
        .groupBy(id_col, "mid", "is_phrase")
        .agg(F.count("*").alias("__m"))
    )
    return matches.groupBy(id_col).agg(
        F.sum(F.when(F.col("is_phrase") == 0, F.col("__m")).otherwise(0))
        .cast("long")
        .alias("term_hits"),
        F.sum(F.when(F.col("is_phrase") == 1, F.col("__m")).otherwise(0))
        .cast("long")
        .alias("phrase_hits"),
    )


def keyword_hits(
    docs: DataFrame,
    keywords,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Multi-keyword tagging over a corpus — the blocklist / taxonomy
    audit primitive (which documents mention which terms, how often).

    One scan: tokens explode and immediately prune against the
    BROADCAST keyword dimension (the join is the filter, applied
    map-side before any exchange — at corpus scale almost every token
    drops there), then one (doc, keyword) hash aggregate. Scales to
    tens of thousands of keywords where a regex union would blow up
    the pattern and per-keyword LIKEs would re-scan the corpus per
    term. Matching is on lowercase whitespace tokens (exact term hits,
    the C4 blocklist convention); multi-word terms go through
    ``phrase_search``.

    ``keywords`` is a Python list (literal dim) or a DataFrame with a
    ``keyword`` column (persisted taxonomy table). Returns
    ``(id_col, keyword, n_hits)`` for documents with >= 1 hit.
    """
    if isinstance(keywords, DataFrame):
        kw = keywords.select(F.lower(F.col("keyword")).alias("keyword"))
    else:
        if not keywords:
            raise ValueError("keyword_hits() needs a non-empty keyword set")
        kw = local_frame(
            docs.sparkSession, [(str(k).lower(),) for k in keywords], "keyword string"
        )
    kw = kw.distinct()
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("keyword"),
    )
    return (
        toks.join(F.broadcast(kw), "keyword")
        .groupBy(id_col, "keyword")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )


def text_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per doc with the full stats battery."""
    t = F.col(text_col)
    return docs.select(
        F.col(id_col),
        F.length(t).alias("n_chars"),
        whitespace_token_count(t).alias("n_tokens"),
        bpe_token_count(t).alias("n_bpe_tokens"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(stopword_ratio(t), 6).alias("stopword_ratio"),
        F.round(mean_word_length(t), 6).alias("mean_word_len"),
        F.round(quality_score(t), 2).alias("quality"),
        lang_id(t).alias("lang_pred"),
        fingerprint(t).alias("fingerprint"),
    )


def lexical_diversity(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document lexical diversity: pretoken count, distinct types,
    hapax legomena (types occurring exactly once), and the type-token
    ratio in integer parts-per-million — the classic repetitiveness /
    template-spam signal quality pipelines cut on (a boilerplate page
    repeats its menu; TTR collapses).

    Scale shape: one pretoken explode + TWO partial-combined hash
    aggregates ((doc, word) then doc) — O(tokens), no window, no
    in-row quadratic type scan. The integer-ppm ratio (``DIV``) keeps
    the output engine-exact; docs with no pretokens survive with zeros
    via the id-stream left join.
    """
    w = docs.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(BPE_REGEX), 0)
        ).alias("word"),
    )
    per_word = w.groupBy(id_col, "word").agg(F.count("*").alias("cnt"))
    per_doc = per_word.groupBy(id_col).agg(
        F.sum("cnt").alias("__tok"),
        F.count("*").alias("__typ"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).alias("__hap"),
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__tok"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("__typ"), F.lit(0)).cast("long").alias("n_types"),
            F.coalesce(F.col("__hap"), F.lit(0)).cast("long").alias("n_hapax"),
            F.when(
                F.coalesce(F.col("__tok"), F.lit(0)) > 0,
                F.expr("__typ * 1000000 DIV __tok"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("ttr_ppm"),
        )
    )


def linear_quality_classifier(
    docs: DataFrame,
    weights: list[float],
    bias: float = 0.0,
    dim: int | None = None,
    threshold: float | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """fastText-style linear text classifier score per document —
    the learned quality-filter stage of CCNet/RefinedWeb-style
    pipelines: ``score = sigmoid(w . x + b)`` where ``x`` is the
    L2-normalized hashed bag-of-words (exactly ``hash_embed``'s
    features, so a model trained offline on those features applies
    verbatim).

    ``weights`` (length = feature dim) rides along as a LITERAL array —
    a broadcast in spirit but cheaper: Catalyst folds the
    ``element_at`` lookup into the projection, so scoring is one
    codegen'd aggregate over the sparse (doc, bucket, w) rows with NO
    join and NO Python. ``threshold`` adds a boolean ``keep`` column
    (score >= threshold) without a second pass.

    At 100 TB this is the cheapest possible shape: the only shuffle is
    hash_embed's (doc, bucket) aggregate; the model itself is O(dim)
    driver-side constants.

    Reference analog: none (corpus op); the portable fingerprint
    bucketing keeps it exactly reproducible in ANSI SQL for the driver
    oracle.
    """
    d = dim or len(weights)
    if len(weights) != d:
        raise ValueError(f"weights length {len(weights)} != dim {d}")
    sparse = hash_embed(docs, dim=d, text_col=text_col, id_col=id_col)
    warr = F.array(*[F.lit(float(w)) for w in weights])
    contrib = F.col("w") * F.element_at(warr, F.col("bucket").cast("int") + 1)
    scored = sparse.groupBy(id_col).agg(
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.sum(contrib) + F.lit(float(bias))))),
            6,
        ).alias("score")
    )
    if threshold is not None:
        scored = scored.withColumn("keep", F.col("score") >= F.lit(float(threshold)))
    return scored


# Gopher's required stop words (Rae et al. 2021, appendix A1.1).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_ratio: float = 0.8,
    min_stop_hits: int = 2,
    stopwords: tuple[str, ...] = GOPHER_STOPWORDS,
) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021, appendix A1.1 —
    public rule set): word-count bounds, mean-word-length bounds,
    symbol-to-word ratio (``#`` and ellipses), bullet-started and
    ellipsis-ended line ratios, alphabetic-word ratio, and a required
    stop-word count. Returns one row per doc with the raw counts plus a
    ``keep`` verdict; callers filter on ``keep`` (keeping the counts
    makes the op auditable and lets thresholds be re-applied without a
    rescan).

    Every ratio test is evaluated by INTEGER cross-multiplication
    (``100*n_symbols <= round(100*max_symbol_ratio)*n_words``), so the
    verdict is exact — no float division, no engine-specific rounding —
    and the whole op is a single codegen'd projection with ZERO
    exchanges (the same shape as ``c4_filters``; at 100 TB it is a pure
    scan that composes ahead of dedup without adding a shuffle).

    Reference analog: none (corpus op new in the Spark engine).
    """
    t = F.col(text_col)
    lower = F.lower(F.trim(t))
    words = F.split(lower, r"\s+")
    lines = F.split(t, "\n")
    n_words = F.when(F.length(lower) == 0, F.lit(0)).otherwise(F.size(words))
    sum_wl = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    # '#' chars + non-overlapping '...' runs + unicode ellipsis chars
    n_sym = (
        (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit(""))))
        + (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
        + (F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit(""))))
    ).cast("long")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda x: x.rlike(r"^\s*[-*•‣▪]")))
    n_ellipsis = F.size(F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…)\s*$")))
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    stop_hits = None
    for sw in stopwords:
        hit = F.array_contains(words, sw).cast("int")
        stop_hits = hit if stop_hits is None else stop_hits + hit

    def pct(r: float) -> int:
        return int(round(r * 100))

    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (sum_wl >= min_mean_word_len * n_words)
        & (sum_wl <= max_mean_word_len * n_words)
        & (100 * n_sym <= pct(max_symbol_ratio) * n_words)
        & (100 * n_bullet <= pct(max_bullet_ratio) * n_lines)
        & (100 * n_ellipsis <= pct(max_ellipsis_ratio) * n_lines)
        & (100 * n_alpha >= pct(min_alpha_ratio) * n_words)
        & (stop_hits >= min_stop_hits)
    )
    return docs.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        sum_wl.alias("sum_word_len"),
        n_sym.alias("n_symbols"),
        n_lines.cast("long").alias("n_lines"),
        n_bullet.cast("long").alias("n_bullet_lines"),
        n_ellipsis.cast("long").alias("n_ellipsis_lines"),
        n_alpha.cast("long").alias("n_alpha_words"),
        stop_hits.cast("long").alias("stop_hits"),
        keep.alias("keep"),
    )


def bigram_logprob(
    docs: DataFrame,
    lam: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc mean INTERPOLATED bigram log-likelihood under the
    corpus's own LM — the next step up from ``unigram_logprob``:
    ``P(w2|w1) = lam * c(w1,w2)/c(w1) + (1-lam) * c(w2)/N`` (Jelinek-
    Mercer smoothing, the classic public recipe), scored over every
    adjacent token pair. Repetitive/templated text scores HIGH (its
    bigrams dominate the corpus), garbled text LOW — a sharper quality
    axis than unigram frequency alone.

    Returns (id, n_bigrams, avg_logprob) rounded to 6 decimals.

    Scale shape: bigram pairs are built IN PLACE with a zip of the
    token array against its own tail (zero extra scans, no window),
    then everything is map-side-partial hash aggregates: corpus
    c(w1,w2) and c(w1) tables + a per-(doc, w1, w2) pre-aggregate that
    bounds the scoring join's fan-out. Hot bigrams ("of the") collapse
    per partition before any shuffle; AQE splits the residual joins. The
    unigram table is vocabulary-sized and broadcast-eligible.
    """
    from pyspark import StorageLevel

    arr = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    arr = F.filter(arr, lambda w: w != "")
    pairs = F.zip_with(
        F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = docs.select(F.col(id_col).alias("id"), F.explode(pairs).alias("p")).select(
        "id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    uni = docs.select(
        F.col(id_col).alias("id"), F.explode(arr).alias("tok")
    )
    ucnt = (
        uni.groupBy("tok").agg(F.count("*").alias("cu"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tot = ucnt.agg(F.sum("cu").alias("n"))
    bcnt = bg.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    dbg = bg.groupBy("id", "w1", "w2").agg(F.count("*").alias("c_d"))
    c1 = ucnt.select(F.col("tok").alias("w1"), F.col("cu").alias("c1"))
    c2 = ucnt.select(F.col("tok").alias("w2"), F.col("cu").alias("c2"))
    p = (
        F.lit(float(lam)) * (F.col("cb").cast("double") / F.col("c1"))
        + F.lit(1.0 - float(lam)) * (F.col("c2").cast("double") / F.col("n"))
    )
    return (
        dbg.join(bcnt, ["w1", "w2"])
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(tot))
        .groupBy("id")
        .agg(
            F.sum("c_d").alias("n_bigrams"),
            F.round(F.sum(F.col("c_d") * F.log(p)) / F.sum("c_d"), 6).alias("avg_logprob"),
        )
        .select(F.col("id").alias(id_col), "n_bigrams", "avg_logprob")
    )


def _ws_tokens(col: Column) -> Column:
    a = F.split(F.lower(F.trim(col)), r"\s+")
    return F.filter(a, lambda w: w != "")


def _ngram_zip(arr: Column, n: int) -> Column:
    """Array of (w1..wn) structs for every n-gram position — built by
    zipping the token array against its own tails: zero windows, zero
    extra scans."""
    slices = [
        F.slice(arr, i + 1, F.greatest(F.size(arr) - n + 1, F.lit(0)))
        for i in range(n)
    ]
    if n == 2:
        return F.zip_with(
            slices[0], slices[1],
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )
    return F.zip_with(
        F.zip_with(
            slices[0], slices[1],
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        ),
        slices[2],
        lambda ab, c: F.struct(
            ab["a"].alias("w1"), ab["b"].alias("w2"), c.alias("w3")
        ),
    )


def _sb_count_tables(
    ref: DataFrame, text_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The stupid-backoff LM's whole state: unigram / bigram / trigram
    count tables of the reference corpus (three partial-combined hash
    aggregates; Zipf keeps all three vocabulary-shaped)."""
    rarr = _ws_tokens(F.col(text_col))
    ucnt = (
        ref.select(F.explode(rarr).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cu"))
    )
    bcnt = (
        ref.select(F.explode(_ngram_zip(rarr, 2)).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cb"))
    )
    tcnt = (
        ref.select(F.explode(_ngram_zip(rarr, 3)).alias("p"))
        .select("p.w1", "p.w2", "p.w3")
        .groupBy("w1", "w2", "w3")
        .agg(F.count("*").alias("ct"))
    )
    return ucnt, bcnt, tcnt


def _sb_score(
    docs: DataFrame,
    ucnt: DataFrame,
    bcnt: DataFrame,
    tcnt: DataFrame,
    alpha: float,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Score ``docs`` against prepared count tables — the shared body
    of ``stupid_backoff_logprob`` and ``stupid_backoff_with_store``."""
    tot = ucnt.agg(F.sum("cu").alias("n"))
    darr = _ws_tokens(F.col(text_col))
    dtg = docs.select(
        F.col(id_col).alias("id"), F.explode(_ngram_zip(darr, 3)).alias("p")
    ).select("id", "p.w1", "p.w2", "p.w3")
    dpre = dtg.groupBy("id", "w1", "w2", "w3").agg(F.count("*").alias("c_d"))
    c12 = bcnt.select(F.col("w1"), F.col("w2"), F.col("cb").alias("c12"))
    c23 = bcnt.select(
        F.col("w1").alias("w2"), F.col("w2").alias("w3"), F.col("cb").alias("c23")
    )
    cu2 = ucnt.select(F.col("w").alias("w2"), F.col("cu").alias("cu2"))
    cu3 = ucnt.select(F.col("w").alias("w3"), F.col("cu").alias("cu3"))
    a = float(alpha)
    s = (
        F.when(
            F.col("ct").isNotNull(),
            F.col("ct").cast("double") / F.col("c12"),
        )
        .when(
            F.col("c23").isNotNull(),
            F.lit(a) * F.col("c23").cast("double") / F.col("cu2"),
        )
        .otherwise(
            F.lit(a * a)
            * F.greatest(F.col("cu3").cast("double"), F.lit(0.5))
            / F.col("n")
        )
    )
    bo = F.when(F.col("ct").isNotNull(), F.lit(0)).otherwise(F.col("c_d"))
    return (
        dpre.join(tcnt, ["w1", "w2", "w3"], "left")
        .join(c12, ["w1", "w2"], "left")
        .join(c23, ["w2", "w3"], "left")
        .join(F.broadcast(cu2), "w2", "left")
        .join(F.broadcast(cu3), "w3", "left")
        .crossJoin(F.broadcast(tot))
        .groupBy("id")
        .agg(
            F.sum("c_d").alias("n_trigrams"),
            F.round(F.sum(F.col("c_d") * F.log(s)) / F.sum("c_d"), 6).alias(
                "avg_logprob"
            ),
            F.floor(F.sum(bo) * 1000000 / F.sum("c_d"))
            .cast("long")
            .alias("bo_ppm"),
        )
        .select(F.col("id").alias(id_col), "n_trigrams", "avg_logprob", "bo_ppm")
    )


def stupid_backoff_logprob(
    docs: DataFrame,
    ref: DataFrame | None = None,
    alpha: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc mean trigram log-score under a STUPID-BACKOFF LM fit on
    ``ref`` (default: ``docs`` itself) — the Brants et al. 2007 ("Large
    Language Models in Machine Translation") recipe, designed precisely
    for distributed count-based LMs at web scale: no discounting, no
    normalization pass, just counts and a fixed backoff penalty::

        S(w3|w1,w2) = c(w1 w2 w3) / c(w1 w2)           if trigram seen
                    = alpha * c(w2 w3) / c(w2)          elif bigram seen
                    = alpha^2 * max(c(w3), 0.5) / N     otherwise

    (the unigram floor scores OOV words as half a count — deterministic
    in any engine). Returns ``(id_col, n_trigrams, avg_logprob,
    bo_ppm)``: docs with fewer than 3 tokens are absent (no trigram to
    score, like ``bigram_logprob``); ``bo_ppm`` is the integer-ppm
    fraction of trigram instances that backed off — scoring a batch
    under a SEED corpus LM (``ref=seed``) makes it a novelty signal
    (high backoff = text the reference corpus has never seen) and makes
    the backoff branches real, where self-scoring always finds its own
    trigrams.

    Scale shape (the ``bigram_logprob`` discipline, one order higher):
    n-grams are built IN PLACE by zipping the token array against its
    own tails (zero windows, zero extra scans); the count tables are
    partial-combined hash aggregates of the REFERENCE corpus only; the
    scoring side pre-aggregates per (doc, trigram) so hot trigrams
    bound the join fan-out; the unigram table is vocabulary-sized
    (broadcast-eligible) and N rides it as one aggregated row. All
    joins are LEFT from the batch — unseen n-grams take the backoff
    branch instead of dropping rows.
    """
    if ref is None:
        ref = docs
    ucnt, bcnt, tcnt = _sb_count_tables(ref, text_col)
    return _sb_score(docs, ucnt, bcnt, tcnt, alpha, text_col, id_col)


def ngram_lm_store_init(
    ref: DataFrame, store_path: str, text_col: str = "text"
) -> None:
    """Persist the stupid-backoff LM — the n-gram-LM member of the
    persisted-store lifecycle family (``bpe_store_init`` /
    ``unigram_store_init``): count the reference corpus ONCE, then
    score any number of later batches without re-scanning it. The
    store is the three count tables (unigram / bigram / trigram),
    vocabulary-shaped by Zipf — constant-width state on disk, exactly
    the discipline every other store in this engine keeps.

    The tables are stored as MERGEABLE partial counts: readers re-sum
    per key (a vocabulary-shaped, kilobyte-class aggregate), which is
    what lets ``ngram_lm_store_append`` grow the LM nightly by
    appending one batch's counts — no store read, no rewrite."""
    ucnt, bcnt, tcnt = _sb_count_tables(ref, text_col)
    ucnt.write.mode("overwrite").parquet(f"{store_path}/uni")
    bcnt.write.mode("overwrite").parquet(f"{store_path}/bi")
    tcnt.write.mode("overwrite").parquet(f"{store_path}/tri")


def ngram_lm_store_append(
    new_ref: DataFrame, store_path: str, text_col: str = "text"
) -> None:
    """Grow a persisted stupid-backoff LM with a new reference slice
    (init with ``ngram_lm_store_init``): counts are mergeable, so the
    nightly increment is ONE scan of the new slice appended as partial
    count rows — the existing store is never read or rewritten.
    Scoring against the grown store equals a from-scratch fit on the
    union of all slices (counts are exact, not sketches)."""
    ucnt, bcnt, tcnt = _sb_count_tables(new_ref, text_col)
    ucnt.write.mode("append").parquet(f"{store_path}/uni")
    bcnt.write.mode("append").parquet(f"{store_path}/bi")
    tcnt.write.mode("append").parquet(f"{store_path}/tri")


def stupid_backoff_with_store(
    docs: DataFrame,
    store_path: str,
    alpha: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score a batch under a PERSISTED stupid-backoff LM (init with
    ``ngram_lm_store_init``, grown with ``ngram_lm_store_append``) —
    the inference path: one scan of the batch, three parquet
    count-table reads re-summed per key (vocabulary-shaped partials,
    kilobyte exchanges), zero reference-corpus work. ``alpha`` is a
    scoring-time knob (the LM state is pure counts), so one store
    serves any backoff penalty."""
    spark = docs.sparkSession
    ucnt = (
        read_parquet(spark, f"{store_path}/uni")
        .groupBy("w").agg(F.sum("cu").alias("cu"))
    )
    bcnt = (
        read_parquet(spark, f"{store_path}/bi")
        .groupBy("w1", "w2").agg(F.sum("cb").alias("cb"))
    )
    tcnt = (
        read_parquet(spark, f"{store_path}/tri")
        .groupBy("w1", "w2", "w3").agg(F.sum("ct").alias("ct"))
    )
    return _sb_score(docs, ucnt, bcnt, tcnt, alpha, text_col, id_col)


def top_collocations(
    docs: DataFrame,
    k: int = 50,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide top-``k`` collocations: adjacent word pairs ranked by
    pointwise mutual information ``PMI = ln(c12 * N / (c1 * c2))``
    (Church & Hanks 1990) — the WordPiece-style merge score, where BPE
    ranks merges by raw count (``top_ngrams``) this ranks by
    association strength. ``min_count`` drops unstable rare pairs (the
    standard PMI guard: a pair seen once with two rare words maxes the
    score).

    Scale shape: the same in-place zip-tail bigram build as
    ``bigram_logprob`` (zero windows), two partial-combined count
    aggregates (pair + unigram), unigram counts joined twice
    (vocabulary-sized side — broadcast-eligible), and a global
    TakeOrderedAndProject for the top-k. N rides the unigram table as
    one aggregated row.
    """
    arr = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    arr = F.filter(arr, lambda w: w != "")
    pairs = F.zip_with(
        F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = docs.select(F.explode(pairs).alias("p")).select(
        F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    uni = docs.select(F.explode(arr).alias("tok"))
    ucnt = uni.groupBy("tok").agg(F.count("*").alias("cu"))
    tot = ucnt.agg(F.sum("cu").alias("n"))
    bcnt = (
        bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
        .filter(F.col("c12") >= int(min_count))
    )
    c1 = ucnt.select(F.col("tok").alias("w1"), F.col("cu").alias("c1"))
    c2 = ucnt.select(F.col("tok").alias("w2"), F.col("cu").alias("c2"))
    pmi = F.log(
        F.col("c12").cast("double") * F.col("n") / (F.col("c1") * F.col("c2"))
    )
    return (
        bcnt.join(c1, "w1").join(c2, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c12", F.round(pmi, 6).alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("w1"), F.col("w2"))
        .limit(k)
    )


def char_entropy(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Character-level Shannon entropy + composition ratios per doc —
    the cheap gibberish/boilerplate detector (low entropy = repeated
    filler, high entropy = random noise; both are filtered tails in
    public pipeline recipes alongside the Gopher/C4 rules).

    Returns (id, n_chars, entropy, digit_ratio, upper_ratio); entropy
    in bits, everything rounded to 6 decimals.

    Scale shape: the ratios are pure codegen Column expressions and the
    entropy is an Arrow-batched pandas kernel over the doc's OWN text —
    ZERO shuffles, embarrassingly parallel, no per-char explode (the
    SQL-oracle form explodes ~10^14 char rows at 100 TB; the kernel
    reads each text exactly once in place). Histogram order is fixed
    (sorted codepoints) so the float sum is deterministic.

    Reference analog: none (corpus op; public-recipe extension).
    """
    import math

    import numpy as np
    import pandas as pd

    def _kernel(texts):
        def one(t):
            if not t:
                return 0.0
            _, counts = np.unique(np.array(list(t)), return_counts=True)
            p = counts / counts.sum()
            return float(-(p * np.log2(p)).sum())

        return texts.map(one)

    _ent = F.pandas_udf(_kernel, "double")

    t = F.col(text_col)
    n = F.length(t)
    safe = F.when(n > 0, n.cast("double"))
    return docs.select(
        F.col(id_col),
        n.alias("n_chars"),
        F.round(_ent(t), 6).alias("entropy"),
        F.round(
            F.coalesce(F.length(F.regexp_replace(t, r"[^0-9]", "")) / safe, F.lit(0.0)), 6
        ).alias("digit_ratio"),
        F.round(
            F.coalesce(F.length(F.regexp_replace(t, r"[^A-Z]", "")) / safe, F.lit(0.0)), 6
        ).alias("upper_ratio"),
    )


def corpus_report(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str | None = "lang",
    top_langs: int = 5,
) -> DataFrame:
    """One-call corpus data card: the summary table every dataset
    release ships (sizes, token/char volume, exact-dup rate, language
    mix, quality/length distribution) as tall (metric, value) rows —
    integers or round-6, engine-replayable.

    Metrics: ``n_docs``, ``total_tokens`` (whitespace), ``total_chars``,
    ``distinct_texts`` (by full-text hash), ``dup_docs``
    (n_docs - distinct_texts), ``dup_ppm`` (integer-div parts per
    million), ``mean_quality`` (the engine's quality_score, round 6),
    ``p50_tokens`` / ``p95_tokens`` (exact interpolated percentiles),
    and ``lang:<code>`` counts for the ``top_langs`` most common values
    of ``lang_col`` (ties broken by code; pass ``lang_col=None`` to use
    the engine's heuristic ``lang_id``).

    Scale shape: ONE corpus scan computes every per-doc feature
    (tokens, chars, quality, hash, lang) into a single projection; the
    card is one global aggregate over it (map-side combined,
    constant-size cells; percentiles are one sort-based aggregate) plus
    a top-k language aggregate — no joins, no windows over the corpus.
    """
    t = F.col(text_col)
    feats = docs.select(
        whitespace_token_count(t).alias("__tok"),
        F.length(t).alias("__chars"),
        F.round(quality_score(t), 6).alias("__q"),
        F.xxhash64(t).alias("__h"),
        (F.col(lang_col) if lang_col else lang_id(t)).alias("__lang"),
    )
    card = feats.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("__tok").cast("long").alias("total_tokens"),
        F.sum("__chars").cast("long").alias("total_chars"),
        F.countDistinct("__h").cast("long").alias("distinct_texts"),
        F.round(F.avg("__q"), 6).alias("mean_quality"),
        F.expr("percentile(__tok, 0.5)").alias("p50_tokens"),
        F.expr("percentile(__tok, 0.95)").alias("p95_tokens"),
    ).withColumn("dup_docs", F.col("n_docs") - F.col("distinct_texts")).withColumn(
        "dup_ppm", F.expr("dup_docs * 1000000 div n_docs")
    )
    tall = card.selectExpr(
        "stack(9, "
        "'n_docs', n_docs::double, "
        "'total_tokens', total_tokens::double, "
        "'total_chars', total_chars::double, "
        "'distinct_texts', distinct_texts::double, "
        "'dup_docs', dup_docs::double, "
        "'dup_ppm', dup_ppm::double, "
        "'mean_quality', mean_quality, "
        "'p50_tokens', round(p50_tokens, 6), "
        "'p95_tokens', round(p95_tokens, 6)"
        ") AS (metric, value)"
    )
    langs = (
        feats.groupBy("__lang")
        .agg(F.count("*").cast("double").alias("value"))
        .orderBy(F.col("value").desc(), F.col("__lang"))
        .limit(top_langs)
        .select(F.concat(F.lit("lang:"), F.col("__lang")).alias("metric"), "value")
    )
    return tall.unionByName(langs)
