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
- Merge application is a pure ``aggregate()`` fold over each word's
  in-row symbol array — no explode, no shuffle, no Python. The fold
  implements the exact greedy left-to-right non-overlapping merge
  of the classic implementation.
- Encoding a corpus re-uses the type table: encode each distinct
  word once, then join back to the (doc, word) stream — the join is
  the only exchange and its build side is vocabulary-sized.

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


def pretoken_counts(
    docs: DataFrame, text_col: str = "text", min_freq: int = 1
) -> DataFrame:
    """``(word, freq)`` word-type table: the single corpus-wide scan
    BPE training needs. One hash aggregate, map-side combined."""
    w = docs.select(
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(BPE_REGEX), 0)
        ).alias("word")
    )
    out = w.groupBy("word").agg(F.count("*").alias("freq"))
    if min_freq > 1:
        out = out.filter(F.col("freq") >= min_freq)
    return out


def _chars(word: Column) -> Column:
    """Seed symbol array: one single-character string per position."""
    return F.filter(F.split(word, "(?!^)"), lambda c: c != "")


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
    rows: list, n_merges: int, seed_py=None
) -> tuple[list[tuple[int, str, str, int]], list]:
    """Merge loop over a collected word-type table — the standard
    practice (distributed count, single-node merges) when the
    vocabulary fits; identical merges/byproducts to the distributed
    loop (same counts, same tie-break). ``seed_py`` maps a word to its
    seed symbol list (default: one character per position)."""
    seed_py = seed_py or list
    words = [(r["word"], int(r["freq"]), seed_py(r["word"])) for r in rows]
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pc: dict[tuple[str, str], int] = {}
        for _, f, s in words:
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
            (w, f, _py_merge(s, left, right) if left in s else s)
            for w, f, s in words
        ]
    return merges, words


def _fit(
    docs: DataFrame,
    n_merges: int,
    text_col: str,
    min_freq: int,
    driver_types_max: int = 200_000,
    seed_expr=None,
    seed_py=None,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Run the merge loop. Returns (merges, final word-type frame with
    the encoded ``syms`` arrays — persisted; caller unpersists).

    Scale dispatch: the corpus-wide pretokenize+count pass is always
    distributed; the merge LOOP runs driver-side when the word-type
    table fits ``driver_types_max`` (the universal practice — type
    tables are vocabulary-sized, and a local loop replaces
    ~2*n_merges scheduled jobs), and falls back to the fully
    distributed fold loop above it. Both paths produce identical
    merges (same integer counts, same lexicographic tie-break) — a
    parity test pins them."""
    if n_merges < 1:
        raise ValueError(f"need n_merges >= 1, got {n_merges}")
    seed_expr = seed_expr or _chars
    counts = pretoken_counts(docs, text_col, min_freq)
    if driver_types_max > 0:
        head = counts.limit(driver_types_max + 1).collect()
        if len(head) <= driver_types_max:
            merges, final = _fit_local(head, n_merges, seed_py)
            spark = docs.sparkSession
            wf = local_frame(
                spark, final,
                "word string, freq long, syms array<string>",
            )
            return merges, wf
    words = counts.select(
        "word", "freq", seed_expr(F.col("word")).alias("syms")
    )
    cur = words.persist()
    release: DataFrame | None = None
    merges: list[tuple[int, str, str, int]] = []
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
        # the job above materialized `cur`; its parent is now dead
        if release is not None:
            release.unpersist()
        if not best:
            break  # degenerate corpus: every word is a single symbol
        row = best[0]
        merges.append((rank, row["lhs"], row["rhs"], int(row["pair_count"])))
        nxt = cur.withColumn(
            "syms", _merge_pair(F.col("syms"), row["lhs"], row["rhs"])
        ).persist()
        release, cur = cur, nxt
    # release the second-to-last cached frame too — without this every
    # distributed training call leaked one cached word-type DataFrame
    # for the session's lifetime. The returned `cur` recomputes its one
    # narrow withColumn from `words` if touched before caching kicks in.
    if release is not None and release is not cur:
        release.unpersist()
    return merges, cur


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
    merges, wf = _fit(docs, n_merges, text_col, min_freq, driver_types_max)
    wf.unpersist()
    spark = docs.sparkSession
    return local_frame(
        spark, merges, "rank int, lhs string, rhs string, pair_count long"
    )


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
    merges, wf = _fit(docs, n_merges, text_col, min_freq, driver_types_max)
    out = (
        wf.select(F.explode("syms").alias("token"), "freq")
        .groupBy("token")
        .agg(F.sum("freq").alias("freq"))
    )
    if top is not None:
        out = out.orderBy(F.col("freq").desc(), "token").limit(top)
    # The freq table is vocab-sized (distinct token types, not rows) —
    # eagerly materialize it THROUGH the persisted word frame so the
    # cache actually pays off, then drop the cache; the returned frame's
    # lineage no longer depends on wf.
    out = out.localCheckpoint(eager=True)
    wf.unpersist()
    return out


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
    merges, wf = _fit(
        docs, n_merges, text_col, min_freq, driver_types_max,
        seed_expr=lambda w: _byte_syms(w, eow),
        seed_py=lambda w: _byte_syms_py(w, eow),
    )
    wf.unpersist()
    spark = docs.sparkSession
    return local_frame(
        spark, merges, "rank int, lhs string, rhs string, pair_count long"
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
    merges, wf = _fit(
        docs, n_merges, text_col, min_freq, driver_types_max,
        seed_expr=lambda w: _byte_syms(w, eow),
        seed_py=lambda w: _byte_syms_py(w, eow),
    )
    out = (
        wf.select(F.explode("syms").alias("token"), "freq")
        .groupBy("token")
        .agg(F.sum("freq").alias("freq"))
    )
    if top is not None:
        out = out.orderBy(F.col("freq").desc(), "token").limit(top)
    # Same eager-materialize-then-unpersist as bpe_token_freq: the
    # vocab-sized result is computed once through the cache, and the
    # returned frame no longer recomputes the merge lineage.
    out = out.localCheckpoint(eager=True)
    wf.unpersist()
    return out


def _apply_kernel(merges: list[tuple[str, str]], seed_py=None):
    """Arrow kernel: apply the ruleset to each word type, sequentially
    in rank order (identical semantics to the fold path — each rule
    merges all its occurrences once). The NUL-wrapped join makes the
    per-rule adjacency probe one C-speed substring check, so rules the
    word doesn't contain cost O(len) and never rebuild the array."""
    import pandas as pd  # local: kernels must be self-contained closures

    seed_py = seed_py or list

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
    ``eow`` marker) — pair with a ``bpe_train_bytes`` ruleset.

    One distinct-word pass encodes each word type exactly once, then a
    join back to the (doc, position, word) stream and an
    order-restoring re-aggregate. The join is the only exchange whose
    width scales with the corpus; its build side is vocabulary-sized.

    Rulesets up to ``max_fold_merges`` nest as pure Column folds (no
    Python anywhere); real tokenizers carry thousands of rules, and a
    thousand nested ``aggregate()`` expressions would explode the plan
    — past the cap the word-type encode switches to one Arrow
    mapInPandas kernel with identical rank-order semantics
    (parity-tested against the fold path).
    """
    pre = F.regexp_extract_all(F.col(text_col), F.lit(BPE_REGEX), 0)
    dw = docs.select(
        F.col(id_col), F.posexplode(pre).alias("wpos", "word")
    )
    types = dw.select("word").distinct()
    if byte_level:
        seed_expr = lambda w: _byte_syms(w, eow)  # noqa: E731
        seed_py = lambda w: _byte_syms_py(w, eow)  # noqa: E731
    else:
        seed_expr, seed_py = _chars, None
    if len(merges) <= max_fold_merges:
        syms = seed_expr(F.col("word"))
        for left, right in merges:
            syms = _merge_pair(syms, left, right)
        enc = types.select("word", syms.alias("__toks"))
    else:
        enc = types.mapInPandas(
            _apply_kernel(list(merges), seed_py),
            schema="word string, __toks array<string>",
        )
    joined = dw.join(enc, "word")
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
    ids = docs.select(id_col)
    return ids.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce(
            F.col(tokens_col), F.array().cast("array<string>")
        ).alias(tokens_col),
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
    merges, wf = _fit(docs, n_merges, text_col, min_freq, driver_types_max)
    # per_word is vocab-sized (one row per distinct word type), so it is
    # cheap to materialize eagerly THROUGH wf's cache; the per-document
    # output below then joins against the checkpointed table and never
    # replays the merge lineage after wf.unpersist().
    per_word = wf.select(
        "word", F.size("syms").alias("__nt"), F.length("word").alias("__nc")
    ).localCheckpoint(eager=True)
    out = _encode_report(docs, per_word, text_col, id_col)
    wf.unpersist()
    return out


def _encode_report(docs, per_word, text_col, id_col):
    """Join the vocab-sized per-word (token count, pre-merge symbol
    count) table back onto the (doc, word) stream and aggregate per
    document — the one corpus-width exchange of the encode report;
    empty / no-pretoken docs survive with zeros via the id-stream left
    join. Shared by the char- and byte-seeded encode forms."""
    pre = F.regexp_extract_all(F.col(text_col), F.lit(BPE_REGEX), 0)
    dw = docs.select(F.col(id_col), F.explode(pre).alias("word"))
    agg = (
        dw.join(per_word, "word")
        .groupBy(id_col)
        .agg(
            F.sum("__nt").alias("n_tokens"), F.sum("__nc").alias("n_chars")
        )
    )
    return (
        docs.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias(
                "n_tokens"
            ),
            F.coalesce(F.col("n_chars"), F.lit(0)).cast("long").alias(
                "n_chars"
            ),
        )
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
    merges, wf = _fit(
        docs, n_merges, text_col, min_freq, driver_types_max,
        seed_expr=lambda w: _byte_syms(w, eow),
        seed_py=lambda w: _byte_syms_py(w, eow),
    )
    extra = 1 if eow else 0
    per_word = wf.select(
        "word",
        F.size("syms").alias("__nt"),
        (F.length(F.encode(F.col("word"), "UTF-8")) + F.lit(extra)).alias(
            "__nc"
        ),
    ).localCheckpoint(eager=True)
    out = _encode_report(docs, per_word, text_col, id_col)
    wf.unpersist()
    return out


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
    merges, wf = _fit(docs, n_merges, text_col, min_freq, driver_types_max)
    wf.unpersist()
    spark = docs.sparkSession
    local_frame(
        spark, merges, "rank int, lhs string, rhs string, pair_count long"
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
