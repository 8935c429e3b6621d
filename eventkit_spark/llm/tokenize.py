"""Byte-pair-encoding tokenizer: distributed training, encoding, vocab.

BPE (Sennrich et al. 2016, "Neural Machine Translation of Rare Words
with Subword Units") learns a token vocabulary by repeatedly merging
the most frequent adjacent symbol pair. The reference repo has no
tokenizer — this belongs to the training-data-pipeline battery the
engine adds on top of the reference surface (token counting already
exists as ``text.bpe_token_count``; this is the real merge loop).

Scale design (the part that matters at 100 TB):

- Training never touches the corpus after ONE pretokenize+count pass:
  like every practical BPE trainer it operates on the *word-type*
  table ``(word, freq)`` — billions of corpus tokens collapse to a
  vocabulary-sized frame. When that frame fits ``driver_types_max``
  the merge loop runs driver-side (the universal practice; replaces
  ~2*n_merges scheduled jobs with a local loop); above it, every
  iteration is one partial-combined pair-count aggregate + a 1-row
  TakeOrdered (the ``cluster.kmeans`` collect-per-iteration
  discipline). Both paths learn identical rulesets (parity-tested).
- One fit lane, ``_fit``, owns every cache: callers get the merges and
  a frame derived from the final type table, and never persist,
  checkpoint or unpersist. The char and byte families differ only in
  their seed spec (``_seed_spec``).
- Merge application is a pure ``aggregate()`` fold over each word's
  in-row symbol array — no explode, no shuffle, no Python. The fold
  implements the exact greedy left-to-right non-overlapping merge
  of the classic implementation.
- Every corpus encode (BPE and ``llm/unigram.py``) runs through one
  word-type lane, ``_encode_types``: encode each distinct word once,
  then join back to the (doc, word) stream — the join is the only
  corpus-width exchange and its build side is vocabulary-sized.

Everything is integer counts + lexicographic tie-breaks, so a DuckDB
oracle replays the whole training loop as chained CTEs bit-identically
(window-function formulation of the same greedy merge; see
``__spark_entry__._bpe_cte``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..sources.tables import local_frame, read_parquet
from .text import BPE_REGEX

__all__ = [
    "pretoken_counts",
    "bpe_train",
    "bpe_train_bytes",
    "bpe_token_freq",
    "bpe_token_freq_bytes",
    "bpe_encode",
    "bpe_encode_bytes",
    "bpe_apply_merges",
    "bpe_store_init",
    "bpe_load_merges",
    "bpe_encode_with_store",
    "bytes_to_unicode",
]

_MERGES_SCHEMA = "rank int, lhs string, rhs string, pair_count long"


def _pretokens(text_col: str) -> Column:
    """Every ``BPE_REGEX`` pretoken of the text, in order."""
    return F.regexp_extract_all(F.col(text_col), F.lit(BPE_REGEX), 0)


def pretoken_counts(
    docs: DataFrame, text_col: str = "text", min_freq: int = 1
) -> DataFrame:
    """``(word, freq)`` word-type table: the single corpus-wide scan
    BPE training needs. One hash aggregate, map-side combined."""
    w = docs.select(F.explode(_pretokens(text_col)).alias("word"))
    out = w.groupBy("word").agg(F.count("*").alias("freq"))
    if min_freq > 1:
        out = out.filter(F.col("freq") >= min_freq)
    return out


def _chars(word: Column) -> Column:
    """Seed symbol array: one code point per position, as ``list(word)``
    (a regex split cuts a surrogate pair in two; ``substr`` does not)."""
    syms = F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: F.substr(word, i, F.lit(1)),
    )
    return F.filter(syms, lambda c: c != "")


def bytes_to_unicode() -> list[str]:
    """The GPT-2 byte↔unicode alphabet (Radford et al. 2019; the
    public ``encoder.py`` construction): the 188 "printable" bytes
    (33-126, 161-172, 174-255) map to their own code points, the other
    68 map to 256+k in ascending byte order — every byte gets a
    visible, non-whitespace symbol, so byte-level BPE needs no <unk>.
    Returns the 256-entry table indexed by byte value."""
    printable = (
        list(range(33, 127)) + list(range(161, 173)) + list(range(174, 256))
    )
    keep = set(printable)
    out, n = [], 0
    for b in range(256):
        if b in keep:
            out.append(chr(b))
        else:
            out.append(chr(256 + n))
            n += 1
    return out


_B2U = bytes_to_unicode()


def _byte_syms(word: Column, eow: str | None) -> Column:
    """Byte-level seed symbols: the word's UTF-8 bytes mapped through
    ``bytes_to_unicode`` (+ an optional end-of-word marker). Pure
    Column pipeline — hex() the encoded bytes, then one table lookup
    per 2-hex-digit pair; no Python, no explode."""
    table = F.array(*[F.lit(c) for c in _B2U])
    hx = F.hex(F.encode(word, "UTF-8"))
    syms = F.transform(
        F.sequence(F.lit(0), (F.length(hx) / 2).cast("int") - 1),
        lambda i: F.element_at(
            table,
            F.conv(F.substr(hx, i * 2 + 1, F.lit(2)), 16, 10).cast("int")
            + 1,
        ),
    )
    if eow:
        syms = F.concat(syms, F.array(F.lit(eow)))
    return syms


def _byte_syms_py(word: str, eow: str | None) -> list[str]:
    """Driver-side twin of ``_byte_syms``."""
    syms = [_B2U[b] for b in word.encode("utf-8")]
    if eow:
        syms.append(eow)
    return syms


def _seed_spec(byte_level: bool, eow: str | None):
    """``(seed_expr, seed_py)``: a word's pre-merge symbols as a Column
    and as a Python list — characters, or with ``byte_level`` the
    mapped UTF-8 bytes plus the optional ``eow`` marker (which only
    byte seeds carry: ``eow`` without ``byte_level`` raises)."""
    if not byte_level:
        if eow:
            raise ValueError(f"eow={eow!r} needs byte_level=True")
        return _chars, list
    return lambda w: _byte_syms(w, eow), lambda w: _byte_syms_py(w, eow)


def _adjacent_pairs(syms: Column) -> Column:
    """array<struct<lhs,rhs>> of adjacent symbol pairs (overlapping
    positions, the Sennrich ``get_stats`` counting convention)."""
    n = F.size(syms)
    return F.zip_with(
        F.slice(syms, 1, n - 1),
        F.slice(syms, 2, n - 1),
        lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
    )


def _merge_pair(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right non-overlapping merge of (left, right)
    inside a symbol array — one ``aggregate()`` fold, zero exchanges.

    State is (acc, pend): ``pend`` holds the symbol whose pairing with
    the next element is still undecided. A merged token is appended to
    ``acc`` and clears ``pend``, so it can never chain into a second
    merge in the same pass — exactly the classic semantics (within one
    step only occurrences of the fixed pair merge).
    """
    merged = F.lit(left + right)
    none = F.lit(None).cast("string")
    init = F.struct(
        F.array().cast("array<string>").alias("acc"), none.alias("pend")
    )

    def step(st: Column, s: Column) -> Column:
        take = F.concat(st["acc"], F.array(st["pend"]))
        hit = F.concat(st["acc"], F.array(merged))
        return (
            F.when(
                st["pend"].isNull(),
                F.struct(st["acc"].alias("acc"), s.alias("pend")),
            )
            .when(
                (st["pend"] == F.lit(left)) & (s == F.lit(right)),
                F.struct(hit.alias("acc"), none.alias("pend")),
            )
            .otherwise(F.struct(take.alias("acc"), s.alias("pend")))
        )

    def fin(st: Column) -> Column:
        return F.when(st["pend"].isNull(), st["acc"]).otherwise(
            F.concat(st["acc"], F.array(st["pend"]))
        )

    return F.aggregate(syms, init, step, fin)


def _py_merge(syms: list[str], left: str, right: str) -> list[str]:
    """Driver-side twin of ``_merge_pair`` (same greedy semantics)."""
    out, i = [], 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _fit_local(
    rows: list, n_merges: int, seed_py
) -> tuple[list[tuple[int, str, str, int]], list]:
    """Merge loop over a collected word-type table — the standard
    practice (distributed count, single-node merges) when the
    vocabulary fits; identical merges/byproducts to the distributed
    loop (same counts, same tie-break). Returns the merges and the
    final ``(word, freq, n_seed, syms)`` rows."""
    words = []
    for r in rows:
        s = seed_py(r["word"])
        words.append((r["word"], int(r["freq"]), len(s), s))
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pc: dict[tuple[str, str], int] = {}
        for _, f, _, s in words:
            for a, b in zip(s, s[1:]):
                k = (a, b)
                pc[k] = pc.get(k, 0) + f
        if not pc:
            break
        (left, right), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, left, right, cnt))
        words = [
            (w, f, n, _py_merge(s, left, right) if left in s else s)
            for w, f, n, s in words
        ]
    return merges, words


def _fit(
    docs: DataFrame,
    n_merges: int,
    text_col: str,
    min_freq: int,
    driver_types_max: int,
    spec,
    finish=None,
) -> tuple[list[tuple[int, str, str, int]], DataFrame | None]:
    """The fit lane: run the merge loop under the seed ``spec``; return
    the merges and ``finish(types)`` (None without ``finish``) over the
    final type table ``(word, freq, n_seed, syms)``, ``n_seed`` being
    the pre-merge symbol count.

    Scale dispatch: the corpus-wide pretokenize+count pass is always
    distributed; the merge LOOP runs driver-side when the word-type
    table fits ``driver_types_max`` (the universal practice — type
    tables are vocabulary-sized, and a local loop replaces
    ~2*n_merges scheduled jobs), and falls back to the fully
    distributed fold loop above it. Both paths produce identical
    merges (same integer counts, same lexicographic tie-break) — a
    parity test pins them.

    The lane owns every cache. On the driver path the type table is a
    local relation, so the derived frame comes back lazy: no job runs,
    nothing is cached. On the distributed path each loop frame stays
    persisted until the next is materialized, the derived frame is cut
    by the one eager ``localCheckpoint`` while the final frame is
    cached (so it never replays the merge lineage), and a ``finally``
    releases every loop frame."""
    if n_merges < 1:
        raise ValueError(f"need n_merges >= 1, got {n_merges}")
    seed_expr, seed_py = spec
    counts = pretoken_counts(docs, text_col, min_freq)
    if driver_types_max > 0:
        head = counts.limit(driver_types_max + 1).collect()
        if len(head) <= driver_types_max:
            merges, final = _fit_local(head, n_merges, seed_py)
            if finish is None:
                return merges, None
            types = local_frame(
                docs.sparkSession, final,
                "word string, freq long, n_seed int, syms array<string>",
            )
            return merges, finish(types)
    cur = counts.select(
        "word", "freq", seed_expr(F.col("word")).alias("syms")
    ).select("word", "freq", F.size("syms").alias("n_seed"), "syms")
    held = [cur.persist()]
    merges = []
    try:
        for rank in range(1, n_merges + 1):
            best = (
                cur.select(
                    F.col("freq"),
                    F.explode(_adjacent_pairs(F.col("syms"))).alias("p"),
                )
                .groupBy(
                    F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs")
                )
                .agg(F.sum("freq").alias("pair_count"))
                .orderBy(F.col("pair_count").desc(), "lhs", "rhs")
                .limit(1)
                .collect()
            )
            # the job above materialized `cur`; the frames before it
            # are dead
            for dead in held[:-1]:
                dead.unpersist()
            del held[:-1]
            if not best:
                break  # degenerate corpus: every word is a single symbol
            row = best[0]
            merges.append(
                (rank, row["lhs"], row["rhs"], int(row["pair_count"]))
            )
            cur = cur.withColumn(
                "syms", _merge_pair(F.col("syms"), row["lhs"], row["rhs"])
            ).persist()
            held.append(cur)
        derived = (
            None if finish is None
            else finish(cur).localCheckpoint(eager=True)
        )
    finally:
        for frame in held:
            frame.unpersist()
    return merges, derived


def _train(docs, n_merges, text_col, min_freq, driver_types_max, spec):
    merges, _ = _fit(docs, n_merges, text_col, min_freq, driver_types_max, spec)
    return local_frame(docs.sparkSession, merges, _MERGES_SCHEMA)


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    min_freq: int = 1,
    driver_types_max: int = 200_000,
) -> DataFrame:
    """Learn ``n_merges`` BPE merge rules from a corpus.

    Returns ``(rank, lhs, rhs, pair_count)`` — the merge table in
    learned order. Deterministic: integer pair counts with the
    (count DESC, lhs ASC, rhs ASC) tie-break, so the same corpus
    always yields the same ruleset in any engine.
    """
    return _train(
        docs, n_merges, text_col, min_freq, driver_types_max,
        _seed_spec(False, None),
    )


def bpe_train_bytes(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    min_freq: int = 1,
    driver_types_max: int = 200_000,
    eow: str | None = None,
) -> DataFrame:
    """GPT-2-flavor BYTE-level BPE: seed symbols are the pretoken's
    UTF-8 bytes mapped through ``bytes_to_unicode()`` instead of its
    characters, so ANY input (emoji, CJK, mojibake) tokenizes without
    an <unk> fallback — the dominant public tokenizer recipe (GPT-2's
    ``encoder.py``). ``eow`` optionally appends an end-of-word marker
    symbol (the Sennrich word-boundary convention) so merges can learn
    whole-word tokens.

    Same distributed/driver dispatch, merge loop, integer counts, and
    (count DESC, lhs, rhs) tie-break as ``bpe_train`` — on a corpus of
    printable ASCII with ``eow=None`` the two learn IDENTICAL rulesets
    (bytes 33-126 map to themselves; parity-tested). Returns the same
    ``(rank, lhs, rhs, pair_count)`` merge table.
    """
    return _train(
        docs, n_merges, text_col, min_freq, driver_types_max,
        _seed_spec(True, eow),
    )


def _token_freq(docs, n_merges, text_col, min_freq, top, driver_types_max,
                spec):
    def finish(types):
        out = (
            types.select(F.explode("syms").alias("token"), "freq")
            .groupBy("token")
            .agg(F.sum("freq").alias("freq"))
        )
        if top is not None:
            out = out.orderBy(F.col("freq").desc(), "token").limit(top)
        return out

    return _fit(
        docs, n_merges, text_col, min_freq, driver_types_max, spec, finish
    )[1]


def bpe_token_freq(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    min_freq: int = 1,
    top: int | None = None,
    driver_types_max: int = 200_000,
) -> DataFrame:
    """Corpus token frequencies after applying the learned merges:
    ``(token, freq)``, optionally the top-k by (freq DESC, token) —
    the vocabulary a trained tokenizer would ship."""
    return _token_freq(
        docs, n_merges, text_col, min_freq, top, driver_types_max,
        _seed_spec(False, None),
    )


def bpe_token_freq_bytes(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    min_freq: int = 1,
    top: int | None = None,
    driver_types_max: int = 200_000,
    eow: str | None = None,
) -> DataFrame:
    """Byte-level twin of ``bpe_token_freq``: corpus token frequencies
    after the byte-level merges, optionally top-k by (freq DESC, token).
    """
    return _token_freq(
        docs, n_merges, text_col, min_freq, top, driver_types_max,
        _seed_spec(True, eow),
    )


def _encode_types(docs, text_col, id_col, encode, sums=None,
                  tokens_col="tokens"):
    """The one word-type encode lane: ``encode`` maps the distinct word
    types ``(word)`` to a vocabulary-sized ``(word, ...)`` frame, which
    joins back to the (doc, word) stream (the one corpus-width
    exchange) and aggregates per document; documents without a
    pretoken survive through a left join from the id stream. With
    ``sums`` ({output: per-word count column}) the counts are summed,
    zero-filled; without it the ``__toks`` arrays concatenate in
    pretoken order into ``tokens_col`` (empty when there are none)."""
    pre = _pretokens(text_col)
    gen = (
        F.posexplode(pre).alias("wpos", "word") if sums is None
        else F.explode(pre).alias("word")
    )
    dw = docs.select(F.col(id_col), gen)
    joined = dw.join(encode(dw.select("word").distinct()), "word")
    if sums is None:
        per_doc = joined.groupBy(id_col).agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("wpos", "__toks"))
                    ),
                    lambda x: x["__toks"],
                )
            ).alias(tokens_col)
        )
        fills = [
            F.coalesce(
                F.col(tokens_col), F.array().cast("array<string>")
            ).alias(tokens_col)
        ]
    else:
        per_doc = joined.groupBy(id_col).agg(
            *[F.sum(c).alias(out) for out, c in sums.items()]
        )
        fills = [
            F.coalesce(F.col(out), F.lit(0).cast("long")).alias(out)
            for out in sums
        ]
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(id_col, *fills)
    )


def _apply_kernel(merges: list[tuple[str, str]], seed_py):
    """Arrow kernel: apply the ruleset to each word type, sequentially
    in rank order (identical semantics to the fold path — each rule
    merges all its occurrences once). The NUL-wrapped join makes the
    per-rule adjacency probe one C-speed substring check, so rules the
    word doesn't contain cost O(len) and never rebuild the array."""
    import pandas as pd  # local: kernels must be self-contained closures

    def kernel(batches):
        for pdf in batches:
            toks = []
            for w in pdf["word"]:
                syms = seed_py(w)
                s = "\x00" + "\x00".join(syms) + "\x00"
                for left, right in merges:
                    if len(syms) < 2:
                        break
                    if ("\x00" + left + "\x00" + right + "\x00") in s:
                        syms = _py_merge(syms, left, right)
                        s = "\x00" + "\x00".join(syms) + "\x00"
                toks.append(syms)
            yield pd.DataFrame({"word": pdf["word"], "__toks": toks})

    return kernel


def bpe_apply_merges(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    max_fold_merges: int = 32,
    byte_level: bool = False,
    eow: str | None = None,
) -> DataFrame:
    """Encode a corpus with a FIXED ruleset (the inference path, e.g.
    applying a tokenizer trained elsewhere): ``(id, tokens)`` with
    pretoken order preserved. ``byte_level=True`` seeds each pretoken
    with its ``bytes_to_unicode``-mapped UTF-8 bytes (+ optional
    ``eow`` marker) — pair with a ``bpe_train_bytes`` ruleset; ``eow``
    without ``byte_level`` raises ``ValueError``.

    Runs through the word-type lane (``_encode_types``): each word type
    is encoded exactly once, then joined back to the (doc, position,
    word) stream and re-aggregated in pretoken order. The join is the
    only exchange whose width scales with the corpus; its build side is
    vocabulary-sized.

    Rulesets up to ``max_fold_merges`` nest as pure Column folds (no
    Python anywhere); real tokenizers carry thousands of rules, and a
    thousand nested ``aggregate()`` expressions would explode the plan
    — past the cap the word-type encode switches to one Arrow
    mapInPandas kernel with identical rank-order semantics
    (parity-tested against the fold path).
    """
    seed_expr, seed_py = _seed_spec(byte_level, eow)

    def encode(types):
        if len(merges) > max_fold_merges:
            return types.mapInPandas(
                _apply_kernel(list(merges), seed_py),
                schema="word string, __toks array<string>",
            )
        syms = seed_expr(F.col("word"))
        for left, right in merges:
            syms = _merge_pair(syms, left, right)
        return types.select("word", syms.alias("__toks"))

    return _encode_types(
        docs, text_col, id_col, encode, tokens_col=tokens_col
    )


def _encode(docs, n_merges, text_col, id_col, min_freq, driver_types_max,
            spec):
    """``(id, n_tokens, n_chars)``: per-document sums of each word's
    merged and pre-merge symbol counts, read from the fit's type table."""
    _, per_word = _fit(
        docs, n_merges, text_col, min_freq, driver_types_max, spec,
        finish=lambda types: types.select(
            "word",
            F.size("syms").alias("__nt"),
            F.col("n_seed").alias("__nc"),
        ),
    )
    return _encode_types(
        docs, text_col, id_col, lambda _types: per_word,
        sums={"n_tokens": "__nt", "n_chars": "__nc"},
    )


def bpe_encode(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_freq: int = 1,
    driver_types_max: int = 200_000,
) -> DataFrame:
    """Train on the corpus and report per-document compression:
    ``(id, n_tokens, n_chars)`` — BPE token count after the merges vs
    the character-symbol count before any merge. Empty / no-pretoken
    documents survive with zeros (left join back to the id stream)."""
    return _encode(
        docs, n_merges, text_col, id_col, min_freq, driver_types_max,
        _seed_spec(False, None),
    )


def bpe_encode_bytes(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_freq: int = 1,
    driver_types_max: int = 200_000,
    eow: str | None = None,
) -> DataFrame:
    """Byte-level twin of ``bpe_encode``: per-document compression
    under byte-seeded merges — ``(id, n_tokens, n_chars)`` where
    ``n_chars`` is the PRE-merge byte-symbol count (UTF-8 bytes plus
    the optional end-of-word marker), the byte family's analog of the
    char count. On printable-ASCII corpora with ``eow=None`` the
    output is IDENTICAL to ``bpe_encode`` (bytes map to themselves, so
    seeds, merges, and counts coincide — parity-pinned)."""
    return _encode(
        docs, n_merges, text_col, id_col, min_freq, driver_types_max,
        _seed_spec(True, eow),
    )


def bpe_store_init(
    docs: DataFrame,
    store_path: str,
    n_merges: int = 8,
    text_col: str = "text",
    min_freq: int = 1,
    driver_types_max: int = 200_000,
) -> None:
    """Train a BPE ruleset and PERSIST it — tokenizers are versioned
    artifacts in practice (train once on the accepted corpus, apply to
    every later batch with the exact same rules). The store is one
    ``(rank, lhs, rhs, pair_count)`` parquet, kilobytes at any rule
    count, read back by ``bpe_encode_with_store``; joins the
    exact-dedup / minhash / simhash / contamination persisted-store
    lifecycle family."""
    bpe_train(
        docs, n_merges, text_col, min_freq, driver_types_max
    ).write.mode("overwrite").parquet(f"{store_path}/merges")


def bpe_load_merges(spark, store_path: str) -> list[tuple[str, str]]:
    """Read a persisted ruleset back in learned order."""
    rows = (
        read_parquet(spark, f"{store_path}/merges").orderBy("rank").collect()
    )
    return [(r["lhs"], r["rhs"]) for r in rows]


def bpe_encode_with_store(
    docs: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    max_fold_merges: int = 32,
) -> DataFrame:
    """Encode a batch with a persisted ruleset: the apply path of the
    tokenizer lifecycle (``bpe_apply_merges`` under the hood — fold
    plan for small rulesets, Arrow kernel past the cap)."""
    merges = bpe_load_merges(docs.sparkSession, store_path)
    return bpe_apply_merges(
        docs, merges, text_col, id_col, tokens_col, max_fold_merges
    )
