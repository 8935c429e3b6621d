"""BPE tokenizer: fold-merge semantics, trainer, encoder vs a pure
Python model of the classic algorithm (Sennrich et al. 2016)."""

import collections
import re

import pytest
from pyspark.sql import functions as F

from eventkit_spark.llm.tokenize import (
    _merge_pair,
    bpe_apply_merges,
    bpe_encode,
    bpe_token_freq,
    bpe_train,
)

RX = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")


def py_merge(syms, l, r):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def py_train(texts, n):
    freq = collections.Counter()
    for t in texts:
        freq.update(RX.findall(t))
    words = {w: (list(w), f) for w, f in freq.items()}
    merges = []
    for rank in range(1, n + 1):
        pc = collections.Counter()
        for _, (s, f) in words.items():
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        (l, r), c = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, l, r, c))
        words = {w: (py_merge(s, l, r), f) for w, (s, f) in words.items()}
    return merges, words


TEXTS = [
    "the cat sat on the mat",
    "the hat of the cat!",
    "a cat, a mat, a hat 42",
    "",  # must survive encode with zeros
    "zzzz aaaa abab banana",  # overlap / chain merge stress
]


@pytest.mark.parametrize(
    "syms,l,r",
    [
        (list("aaaa"), "a", "a"),  # chained greedy: [aa, aa]
        (list("aaa"), "a", "a"),  # odd run: [aa, a]
        (list("abab"), "a", "b"),
        (list("ababa"), "b", "a"),  # match starts mid-word
        (list("x"), "a", "b"),  # no pair possible
        ([], "a", "b"),
        (["ab", "c", "ab", "ab"], "ab", "ab"),  # multi-char symbols
        (list("banana"), "a", "n"),
    ],
)
def test_merge_fold_matches_greedy(spark, syms, l, r):
    df = spark.createDataFrame([(syms,)], "syms array<string>")
    got = df.select(_merge_pair(F.col("syms"), l, r).alias("m")).first()["m"]
    assert got == py_merge(syms, l, r)


def test_merge_fold_randomized_batch(spark):
    """Seeded random sweep: 200 symbol arrays over a 3-letter alphabet
    (collision-heavy) x random merge pairs, folded in ONE Spark job,
    must match the greedy Python model case-for-case."""
    import random

    rng = random.Random(20260815)
    alpha = ["a", "b", "ab"]
    cases = []
    for i in range(200):
        syms = [rng.choice(alpha) for _ in range(rng.randrange(0, 12))]
        l, r = rng.choice(alpha), rng.choice(alpha)
        cases.append((i, syms, l, r))
    df = spark.createDataFrame(cases, "i int, syms array<string>, l string, r string")
    # one plan: group cases by (l, r) so each distinct pair folds once
    by_pair = {}
    for i, syms, l, r in cases:
        by_pair.setdefault((l, r), []).append(i)
    got = {}
    for (l, r), idxs in by_pair.items():
        rows = (
            df.filter(F.col("i").isin(idxs))
            .select("i", _merge_pair(F.col("syms"), l, r).alias("m"))
            .collect()
        )
        got.update({row["i"]: row["m"] for row in rows})
    for i, syms, l, r in cases:
        assert got[i] == py_merge(syms, l, r), (syms, l, r)


def test_train_matches_python_model(spark):
    exp, _ = py_train(TEXTS, 8)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id int, text string"
    )
    got = [tuple(r) for r in bpe_train(docs, n_merges=8).orderBy("rank").collect()]
    assert got == exp


def test_distributed_path_matches_driver_path(spark):
    # driver_types_max=0 forces the fully distributed fold loop; both
    # paths must learn identical rulesets (same counts, same tie-break)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id int, text string"
    )
    fast = [tuple(r) for r in bpe_train(docs, n_merges=6).orderBy("rank").collect()]
    dist = [
        tuple(r)
        for r in bpe_train(docs, n_merges=6, driver_types_max=0)
        .orderBy("rank")
        .collect()
    ]
    assert fast == dist
    ff = {
        r["token"]: r["freq"]
        for r in bpe_token_freq(docs, n_merges=6).collect()
    }
    df_ = {
        r["token"]: r["freq"]
        for r in bpe_token_freq(docs, n_merges=6, driver_types_max=0).collect()
    }
    assert ff == df_


def test_encode_counts_and_empty_doc(spark):
    _, words = py_train(TEXTS, 6)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id int, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_chars"])
        for r in bpe_encode(docs, n_merges=6).collect()
    }
    exp = {}
    for i, t in enumerate(TEXTS):
        ws = RX.findall(t)
        exp[i] = (
            sum(len(words[w][0]) for w in ws),
            sum(len(w) for w in ws),
        )
    assert got == exp
    assert got[3] == (0, 0)  # empty doc kept, zeroed


def test_apply_merges_preserves_order(spark):
    merges, words = py_train(TEXTS, 6)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id int, text string"
    )
    rules = [(l, r) for _, l, r, _ in merges]
    got = {
        r["doc_id"]: r["tokens"]
        for r in bpe_apply_merges(docs, rules).collect()
    }
    for i, t in enumerate(TEXTS):
        exp = [tok for w in RX.findall(t) for tok in words[w][0]]
        assert got[i] == exp, f"doc {i}"


def test_apply_merges_kernel_path_parity(spark):
    """max_fold_merges=0 forces the Arrow kernel encode; it must equal
    the nested-fold path token-for-token on every doc."""
    merges, _ = py_train(TEXTS, 8)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id int, text string"
    )
    rules = [(l, r) for _, l, r, _ in merges]
    fold = {r["doc_id"]: r["tokens"]
            for r in bpe_apply_merges(docs, rules).collect()}
    kern = {r["doc_id"]: r["tokens"]
            for r in bpe_apply_merges(docs, rules, max_fold_merges=0).collect()}
    assert kern == fold


def test_token_freq_matches_model(spark):
    _, words = py_train(TEXTS, 6)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id int, text string"
    )
    exp = collections.Counter()
    for _, (s, f) in words.items():
        for tok in s:
            exp[tok] += f
    got = {
        r["token"]: r["freq"] for r in bpe_token_freq(docs, n_merges=6).collect()
    }
    assert got == dict(exp)
    # top-k cutoff is deterministic: (freq DESC, token)
    topk = [
        (r["token"], r["freq"])
        for r in bpe_token_freq(docs, n_merges=6, top=5).collect()
    ]
    exp_top = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert sorted(topk, key=lambda kv: (-kv[1], kv[0])) == exp_top


def test_bpe_store_lifecycle(spark, tmp_path):
    """Train-once / apply-every-batch: the persisted ruleset encodes a
    NEW batch identically to applying the in-memory merges directly."""
    from eventkit_spark.llm.tokenize import (
        bpe_encode_with_store,
        bpe_load_merges,
        bpe_store_init,
    )

    train_docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id int, text string"
    )
    store = str(tmp_path / "tok")
    bpe_store_init(train_docs, store, n_merges=6)
    rules = bpe_load_merges(spark, store)
    exp_merges, _ = py_train(TEXTS, 6)
    assert rules == [(l, r) for _, l, r, _ in exp_merges]

    batch = spark.createDataFrame(
        [(100, "the mat of that cat"), (101, "brand new words here")],
        "doc_id int, text string",
    )
    via_store = {r["doc_id"]: r["tokens"]
                 for r in bpe_encode_with_store(batch, store).collect()}
    direct = {r["doc_id"]: r["tokens"]
              for r in bpe_apply_merges(batch, rules).collect()}
    assert via_store == direct and len(via_store) == 2


def test_null_text_rows_survive_the_surface(spark):
    """The ADVICE bug class was NULL-key row loss. NULL-text documents
    must neither crash nor vanish: bpe_encode keeps them with zeros,
    bpe_apply_merges with an empty token array, train just ignores
    them (regexp over NULL yields no pretokens)."""
    from eventkit_spark.llm.tokenize import bpe_encode

    docs = spark.createDataFrame(
        [(0, "the cat sat"), (1, None), (2, "a cat mat")],
        "doc_id int, text string",
    )
    merges = [tuple(r)[1:3] for r in bpe_train(docs, n_merges=4).collect()]
    enc = {r["doc_id"]: (r["n_tokens"], r["n_chars"])
           for r in bpe_encode(docs, n_merges=4).collect()}
    assert set(enc) == {0, 1, 2}
    assert enc[1] == (0, 0)
    ap = {r["doc_id"]: r["tokens"]
          for r in bpe_apply_merges(docs, merges).collect()}
    assert set(ap) == {0, 1, 2} and ap[1] == []


def test_train_stops_on_degenerate_corpus(spark):
    # single-char words only: no pairs to merge anywhere
    docs = spark.createDataFrame([(0, "a b c a b")], "doc_id int, text string")
    assert bpe_train(docs, n_merges=4).count() == 0
    with pytest.raises(ValueError):
        bpe_train(docs, n_merges=0)


def test_distributed_train_releases_all_cached_frames(spark):
    # Regression (r6 advice): the second-to-last persisted word-type
    # frame leaked one cache entry per distributed training call.
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id int, text string"
    )
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    bpe_train(docs, n_merges=4, driver_types_max=0).collect()
    after = jsc.getPersistentRDDs().size()
    assert after <= before, f"leaked {after - before} cached frame(s)"


def test_byte_level_matches_char_level_on_ascii(spark):
    """Printable-ASCII corpora: byte seeds map to themselves (GPT-2
    table is identity on 33-126), so byte-level training with no
    end-of-word marker learns the char-level ruleset exactly — on both
    the driver and the distributed path."""
    from eventkit_spark.llm.tokenize import bpe_train_bytes

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id int, text string"
    )
    char = [tuple(r) for r in bpe_train(docs, n_merges=6).orderBy("rank").collect()]
    byte = [tuple(r) for r in bpe_train_bytes(docs, n_merges=6).orderBy("rank").collect()]
    dist = [
        tuple(r)
        for r in bpe_train_bytes(docs, n_merges=6, driver_types_max=0)
        .orderBy("rank").collect()
    ]
    assert byte == char == dist


def test_byte_level_non_ascii_and_eow(spark):
    """Non-ASCII input seeds through the byte table (no <unk>, no
    crash): a 2-byte UTF-8 char yields two byte symbols, and the
    most frequent pair merges them back. The end-of-word marker joins
    merges like any symbol."""
    from eventkit_spark.llm.tokenize import bpe_train_bytes, bytes_to_unicode

    t = bytes_to_unicode()
    docs = spark.createDataFrame(
        [(0, "é é é")], "doc_id int, text string"
    )
    got = bpe_train_bytes(docs, n_merges=1).collect()[0]
    eb = "é".encode("utf-8")
    assert (got["lhs"], got["rhs"]) == (t[eb[0]], t[eb[1]])
    assert got["pair_count"] == 3

    # eow: single-symbol words merge with the marker
    docs2 = spark.createDataFrame(
        [(0, "a a a b")], "doc_id int, text string"
    )
    got2 = bpe_train_bytes(docs2, n_merges=1, eow="</w>").collect()[0]
    assert (got2["lhs"], got2["rhs"], got2["pair_count"]) == ("a", "</w>", 3)


def test_bytes_to_unicode_is_the_public_table(spark):
    """Pin the construction: 256 distinct symbols, identity on the
    printable ranges, 256+k (ascending) on the rest."""
    from eventkit_spark.llm.tokenize import bytes_to_unicode

    t = bytes_to_unicode()
    assert len(t) == 256 and len(set(t)) == 256
    assert t[ord("A")] == "A" and t[33] == "!" and t[255] == chr(255)
    assert ord(t[0]) == 256 and ord(t[32]) == 256 + 32


def test_apply_merges_byte_level_roundtrip(spark):
    """byte_level encode: applying a bpe_train_bytes ruleset yields
    tokens whose concatenation reproduces each pretoken's byte-mapped
    form (+ eow), on BOTH the fold path and the Arrow kernel path; on
    printable ASCII without a marker it matches the char-level path."""
    from eventkit_spark.llm.tokenize import (
        bpe_apply_merges, bpe_train_bytes, bytes_to_unicode,
    )

    t = bytes_to_unicode()
    docs = spark.createDataFrame(
        [(i, txt) for i, txt in enumerate(TEXTS + ["é ño é"])],
        "doc_id int, text string",
    )
    rules = [
        (r["lhs"], r["rhs"])
        for r in bpe_train_bytes(docs, n_merges=6, eow="</w>")
        .orderBy("rank").collect()
    ]
    fold = bpe_apply_merges(docs, rules, byte_level=True, eow="</w>")
    kern = bpe_apply_merges(
        docs, rules, byte_level=True, eow="</w>", max_fold_merges=0
    )
    f = {r["doc_id"]: r["tokens"] for r in fold.collect()}
    assert f == {r["doc_id"]: r["tokens"] for r in kern.collect()}

    import re

    from eventkit_spark.llm.text import BPE_REGEX

    for r in docs.collect():
        expect = "".join(
            "".join(t[b] for b in w.encode("utf-8")) + "</w>"
            for w in re.findall(BPE_REGEX, r["text"])
        )
        assert "".join(f[r["doc_id"]]) == expect

    # ASCII, no marker: byte-level encode == char-level encode
    ascii_docs = spark.createDataFrame(
        [(i, txt) for i, txt in enumerate(TEXTS)], "doc_id int, text string"
    )
    rules2 = [
        (r["lhs"], r["rhs"])
        for r in bpe_train_bytes(ascii_docs, n_merges=6).orderBy("rank").collect()
    ]
    b = bpe_apply_merges(ascii_docs, rules2, byte_level=True).collect()
    c = bpe_apply_merges(ascii_docs, rules2).collect()
    assert {r["doc_id"]: r["tokens"] for r in b} == {
        r["doc_id"]: r["tokens"] for r in c
    }


def test_bpe_encode_bytes_ascii_parity(spark):
    """bpe_encode_bytes(eow=None) on printable ASCII == bpe_encode
    row-for-row (bytes seed to themselves, so merges and counts
    coincide) — the fertility-parity contract for the byte family; the
    non-ASCII + eow form counts byte symbols, not chars."""
    from eventkit_spark.llm.tokenize import bpe_encode, bpe_encode_bytes

    docs = spark.createDataFrame(
        [(i, txt) for i, txt in enumerate(TEXTS)], "doc_id int, text string"
    )
    a = sorted(bpe_encode(docs, n_merges=6).collect())
    b = sorted(bpe_encode_bytes(docs, n_merges=6).collect())
    assert a == b

    # and per-language fertility derived from the two agrees on ASCII
    from pyspark.sql import functions as F

    fa = bpe_encode(docs, n_merges=6).agg(
        F.sum("n_tokens").alias("t"), F.sum("n_chars").alias("c")).first()
    fb = bpe_encode_bytes(docs, n_merges=6).agg(
        F.sum("n_tokens").alias("t"), F.sum("n_chars").alias("c")).first()
    assert (fa["t"], fa["c"]) == (fb["t"], fb["c"])

    # eow form: one extra pre-merge symbol per pretoken, merges may
    # differ; n_chars = bytes + 1 per word (é is 2 bytes)
    uni = spark.createDataFrame([(0, "é é x")], "doc_id int, text string")
    r = bpe_encode_bytes(uni, n_merges=1, eow="</w>").first()
    assert r["n_chars"] == (2 + 1) * 2 + (1 + 1)


def test_eow_without_byte_level_raises(spark):
    """The end-of-word marker is part of the byte seed only: asking for
    it on character seeds fails loudly instead of dropping it."""
    docs = spark.createDataFrame([(0, "a cat")], "doc_id int, text string")
    with pytest.raises(ValueError, match="byte_level"):
        bpe_apply_merges(docs, [("c", "a")], eow="</w>")


def test_astral_chars_seed_one_symbol_on_both_paths(spark):
    """A code point outside the BMP (an emoji, two UTF-16 units) is one
    seed symbol on the distributed path too, as on the driver path: the
    two learn the same ruleset and report the same counts."""
    docs = spark.createDataFrame(
        [(0, "ab\U0001F600 ab \U0001F600\U0001F600"), (1, "ab")],
        "doc_id int, text string",
    )
    fast = sorted(bpe_train(docs, n_merges=3).collect())
    dist = sorted(bpe_train(docs, n_merges=3, driver_types_max=0).collect())
    assert fast == dist == [(1, "a", "b", 3)]
    enc = sorted(bpe_encode(docs, n_merges=3).collect())
    assert enc == sorted(
        bpe_encode(docs, n_merges=3, driver_types_max=0).collect()
    )
    assert enc == [(0, 5, 7), (1, 1, 2)]


def test_tokenizers_leave_no_cached_state(spark, tmp_path):
    """The fit lane owns every cache: on the driver path no tokenizer
    entry point leaves a persisted or checkpointed RDD behind; the
    distributed (driver_types_max=0) twins leave at most the lane's one
    eager boundary under the derived frame, and training none."""
    from eventkit_spark.llm import tokenize as T, unigram as U

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id int, text string"
    )
    rules = [(r["lhs"], r["rhs"]) for r in bpe_train(docs, 6).collect()]
    jsc = spark.sparkContext._jsc

    def added(build):
        before = set(jsc.getPersistentRDDs())
        out = build()
        if out is not None:
            out.collect()
        return len(set(jsc.getPersistentRDDs()) - before)

    bpe_store = str(tmp_path / "bpe")
    uni_store = str(tmp_path / "uni")
    driver = {
        "bpe_train": lambda: T.bpe_train(docs, 6),
        "bpe_train_bytes": lambda: T.bpe_train_bytes(docs, 6, eow="</w>"),
        "bpe_token_freq": lambda: T.bpe_token_freq(docs, 6, top=5),
        "bpe_token_freq_bytes": lambda: T.bpe_token_freq_bytes(docs, 6),
        "bpe_encode": lambda: T.bpe_encode(docs, 6),
        "bpe_encode_bytes": lambda: T.bpe_encode_bytes(docs, 6, eow="</w>"),
        "bpe_apply_merges": lambda: T.bpe_apply_merges(docs, rules),
        "bpe_apply_merges_kernel": lambda: T.bpe_apply_merges(
            docs, rules, max_fold_merges=0
        ),
        "bpe_store_init": lambda: T.bpe_store_init(docs, bpe_store, 6),
        "bpe_encode_with_store": lambda: T.bpe_encode_with_store(
            docs, bpe_store
        ),
        "unigram_vocab": lambda: U.unigram_vocab(docs, vocab_size=10),
        "unigram_encode": lambda: U.unigram_encode(docs, vocab_size=10),
        "unigram_tokenize": lambda: U.unigram_tokenize(docs, vocab_size=10),
        "unigram_train": lambda: U.unigram_train(
            docs, vocab_size=5, start_size=15, iters=2
        ),
        "unigram_store_init": lambda: U.unigram_store_init(
            U.unigram_vocab(docs, vocab_size=10), uni_store
        ),
        "unigram_encode_with_store": lambda: U.unigram_encode_with_store(
            docs, uni_store
        ),
    }
    assert {n: added(b) for n, b in driver.items()} == dict.fromkeys(
        driver, 0
    )
    twins = {
        "bpe_train": (T.bpe_train, 0),
        "bpe_train_bytes": (T.bpe_train_bytes, 0),
        "bpe_token_freq": (T.bpe_token_freq, 1),
        "bpe_token_freq_bytes": (T.bpe_token_freq_bytes, 1),
        "bpe_encode": (T.bpe_encode, 1),
        "bpe_encode_bytes": (T.bpe_encode_bytes, 1),
    }
    for name, (fn, most) in twins.items():
        n = added(lambda: fn(docs, 6, driver_types_max=0))
        assert n <= most, (name, n)


def test_encode_and_freq_build_with_train_jobs(spark):
    """Building the encode and token-frequency frames on the driver path
    runs exactly the jobs training does (counted by job group): the
    derived frame stays lazy over the local type table."""
    from eventkit_spark.llm import tokenize as T

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id int, text string"
    )
    sc = spark.sparkContext

    def build_jobs(fn, **kw):
        group = f"bpe-build-{fn.__name__}"
        sc.setJobGroup(group, group, False)
        try:
            fn(docs, n_merges=6, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    train = build_jobs(T.bpe_train)
    assert train > 0
    assert build_jobs(T.bpe_encode) == train
    assert build_jobs(T.bpe_token_freq, top=5) == train
    assert build_jobs(T.bpe_train_bytes) == train
    assert build_jobs(T.bpe_encode_bytes) == train
    assert build_jobs(T.bpe_token_freq_bytes) == train


def test_cache_and_join_back_only_in_the_lanes():
    """In the tokenizer modules only the fit lane (``tokenize._fit``)
    and ``unigram_train`` touch the cache, and only the word-type lane
    (``tokenize._encode_types``) re-aggregates ``(wpos, tokens)``
    structs or joins back to the id stream: any other site is a new
    copy of a lane, with its own cache or empty-document rule to
    drift."""
    import ast
    import pathlib

    llm = pathlib.Path(__file__).resolve().parent.parent / "eventkit_spark" / "llm"
    cache_ok = {("tokenize.py", "_fit"), ("unigram.py", "unigram_train")}
    cache_calls = {"persist", "unpersist", "cache", "localCheckpoint", "checkpoint"}
    bad = []

    def is_wpos_struct(arg):
        return (
            isinstance(arg, ast.Call)
            and isinstance(arg.func, ast.Attribute)
            and arg.func.attr == "struct"
            and bool(arg.args)
            and isinstance(arg.args[0], ast.Constant)
            and arg.args[0].value == "wpos"
        )

    for name in ("tokenize.py", "unigram.py"):
        tree = ast.parse((llm / name).read_text())
        for top in tree.body:
            where = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                ):
                    continue
                attr = node.func.attr
                if attr in cache_calls and (name, where) not in cache_ok:
                    bad.append(f"{name}:{node.lineno} {attr} in {where}")
                in_lane = (name, where) == ("tokenize.py", "_encode_types")
                regroup = attr == "collect_list" and any(
                    is_wpos_struct(a) for a in node.args
                )
                join_back = attr == "join" and any(
                    isinstance(a, ast.Name) and a.id == "id_col"
                    for a in node.args
                )
                if (regroup or join_back) and not in_lane:
                    bad.append(f"{name}:{node.lineno} {attr} in {where}")
    assert not bad, bad
