"""LLM-extension operator tests: near-dup blocking correctness, LSH
prefilter recall, IVF plan shape, Jaccard df-pruning."""

import pytest
from pyspark.sql import functions as F

from eventkit_spark.llm.similarity import embedding_near_dups, ivf_topk
from eventkit_spark.plans.audit import (
    count_shuffles, file_scans, node_class, node_counts, plan_expressions, plan_nodes,
    plan_report, shuffles, windows,
)
from eventkit_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
THRESH = 0.35


def _pairs(df):
    return {(r["id_a"], r["id_b"]): round(r["cos"], 6) for r in df.collect()}


def test_neardup_multiblock_equals_singleblock(spark):
    """block_size small enough to force many blocks must return the SAME
    pair set as the single-block path (round-1 ADVICE high: cross-block
    cells silently dropped pairs whose block-a member had the larger id)."""
    emb = load_table(spark, SF, "embeddings")
    single = _pairs(embedding_near_dups(emb, threshold=THRESH, block_size=1_000_000))
    multi = _pairs(embedding_near_dups(emb, threshold=THRESH, block_size=16))
    assert multi == single
    assert len(single) > 0  # the fixture actually exercises the threshold


def test_neardup_lsh_prefilter_guard_low_threshold(spark):
    """Below the sign-LSH separability floor the auto-sizer must WARN
    and fall back to the exact blocked path (r3 VERDICT item 5: the old
    behavior silently ran bits=1 — near-brute-force plus extra
    shuffles). The fallback result equals the exact pair set; explicit
    bits= still forces LSH at the caller's own risk."""
    import pytest as _pytest

    emb = load_table(spark, SF, "embeddings")
    exact = _pairs(embedding_near_dups(emb, threshold=THRESH, block_size=1_000_000))
    with _pytest.warns(UserWarning, match="degenerates at threshold"):
        lsh_df = embedding_near_dups(emb, threshold=THRESH, prefilter="rp_lsh")
    lsh = _pairs(lsh_df)
    assert lsh == exact and len(exact) > 0
    # the fallback took the exact path: no posting-list distinct in plan
    assert not node_counts(lsh_df)["ArrowEvalPythonExec"]
    # explicit bits bypasses the guard (no warning) and stays a subset
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("error")
        forced = _pairs(
            embedding_near_dups(emb, threshold=THRESH, prefilter="rp_lsh", bits=2, tables=8)
        )
    assert set(forced) <= set(exact)


def test_neardup_lsh_planted_high_threshold(spark):
    """The true near-dup regime (threshold 0.92): planted perturbed
    copies must all be found, with real pruning (bits > 1)."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(200, 64))
    dup = base[:40] + rng.normal(scale=0.05, size=(40, 64))  # cos ~ 0.995
    vecs = np.vstack([base, dup])
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = _pairs(embedding_near_dups(emb, threshold=0.92, block_size=1_000_000))
    lsh = _pairs(embedding_near_dups(emb, threshold=0.92, prefilter="rp_lsh"))
    planted = {(i, 200 + i) for i in range(40)}
    assert planted <= set(exact)
    assert set(lsh) <= set(exact)
    recall = len(lsh) / len(exact)
    assert recall >= 0.95, f"planted-dup recall {recall:.2f}"


def test_ivf_no_global_window(spark):
    """Centroid seeding must not plan an unpartitioned window or a
    full-corpus single task (round-1 VERDICT fix #4): every Window in
    the final plan is keyed by query_id."""
    emb = load_table(spark, SF, "embeddings")
    out = ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=3, n_cells=8, nprobe=3)
    for w in windows(out):
        assert "query_id" in w.keys, f"window not keyed by query_id: {w}"
    rows = out.collect()
    assert len(rows) > 0
    # every query got at most k neighbors, ranked
    from collections import Counter

    per_q = Counter(r["query_id"] for r in rows)
    assert all(c <= 3 for c in per_q.values())


def test_ivf_kmeans_centroids(spark):
    """centroids='kmeans' (k-means|| fit) shares the assignment plumbing
    and must reach at least the hash-seeded recall vs brute force."""
    from eventkit_spark.llm.similarity import brute_force_topk

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, q, k=3).collect()
    }

    def recall(mode):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(emb, q, k=3, n_cells=8, nprobe=4, centroids=mode).collect()
        }
        return len(got & truth) / len(truth)

    r_km = recall("kmeans")
    assert r_km >= 0.5, f"kmeans-IVF recall {r_km:.2f}"
    assert r_km >= recall("hash") - 0.15  # balanced cells shouldn't hurt


def test_default_filter_truthiness(spark):
    """filter() with no predicate keeps Python-truthy payloads: non-empty
    strings survive (a bare boolean cast NULLed them out — round-1
    VERDICT wrong-list #3), zeros and empties drop."""
    from eventkit_spark.sources.create import sequence

    strs = sequence(spark, ["a", "", "0", "b"])
    assert strs.filter().to_list() == ["a", "0", "b"]
    nums = sequence(spark, [1.0, 0.0, 2.0])
    assert nums.filter().to_list() == [1.0, 2.0]
    from eventkit_spark.frame import EventFrame

    adf = spark.createDataFrame(
        [(0, [1]), (1, []), (2, [2, 3])], "seq long, value array<int>"
    )
    arrs = EventFrame(adf, value_cols=["value"], seq_col="seq", ts_col=None)
    assert arrs.filter().to_list() == [[1], [2, 3]]


def test_multimodal_feature_kernels(spark):
    """Audio / video / image feature extraction: every typed asset gets
    exactly one (or max_frames) fixed-width feature row, values are
    deterministic (hash-seeded stub decode), and bounds hold."""
    from eventkit_spark.llm.multimodal import (
        audio_features,
        frame_sample,
        image_features,
        synth_media_table,
        video_frame_features,
    )

    docs = load_table(spark, SF, "documents").limit(90)
    media = synth_media_table(docs).cache()
    by_type = {
        r["media_type"]: r["n"]
        for r in media.groupBy(F.col("meta.media_type").alias("media_type"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert sum(by_type.values()) == 90

    img = image_features(media).collect()
    assert len(img) == by_type["image/png"]
    assert all(abs(sum(r["hist"]) - 1.0) < 1e-9 for r in img)

    aud = {r["asset_id"]: r for r in audio_features(media).collect()}
    assert len(aud) == by_type["audio/wav"]
    for r in aud.values():
        assert 0.0 <= r["zcr"] <= 1.0 and 0.0 < r["rms"] <= r["peak"] <= 1.0
        assert r["duration_s"] == r["n_samples"] / 16000
    # determinism: the stub decode is payload-seeded, not run-seeded
    again = {r["asset_id"]: r for r in audio_features(media).collect()}
    assert {k: v["rms"] for k, v in aud.items()} == {k: v["rms"] for k, v in again.items()}

    # every_n=2: sf0.001 texts are <=558 bytes -> ~3-6 synthetic frames,
    # so a stride of 2 actually samples multiple frames per video
    frames = frame_sample(media, every_n=2, max_frames=4).collect()
    feats = video_frame_features(media, every_n=2, max_frames=4).collect()
    assert {(r["asset_id"], r["frame_no"]) for r in feats} == {
        (r["asset_id"], r["frame_no"]) for r in frames
    }
    assert all(0.0 <= r["mean_luma"] <= 255.0 for r in feats)
    # distinct frames of one video decode to distinct fakes
    by_asset = {}
    for r in feats:
        by_asset.setdefault(r["asset_id"], set()).add(round(r["mean_luma"], 9))
    assert any(len(v) > 1 for v in by_asset.values())
    media.unpersist()


def test_dedup_clusters_transitive(spark):
    """a~b and b~c must land in one cluster even when a!~c directly;
    untouched docs are singletons; min id labels the cluster."""
    from eventkit_spark.llm.dedup import dedup_clusters

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    out = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(docs, pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}
    # a long chain exercises multiple propagation rounds
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], "id_a long, id_b long"
    )
    out2 = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(docs, chain).collect()}
    assert out2 == {i: 1 for i in range(1, 8)} | {7: 1}


def test_dedup_clusters_deep_chain_pointer_jump(spark):
    """A 1000-hop path graph (worst-case diameter: templated boilerplate
    chains) must converge in O(log diameter) rounds thanks to pointer
    jumping — 14 rounds cover diameter 1000, where plain one-hop
    propagation needed 1000. Exhausting max_iter raises instead of
    silently returning split clusters."""
    import pytest

    from eventkit_spark.llm.dedup import dedup_clusters

    n = 1000
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    # driver_edges_max=0 forces the DISTRIBUTED loop (the small-graph
    # union-find shortcut would solve this instantly and never iterate)
    out = dedup_clusters(docs, pairs, max_iter=14, driver_edges_max=0)
    assert out.filter(F.col("cluster_id") != 0).count() == 0

    # the driver fast path must agree with the loop exactly
    fast = dedup_clusters(docs, pairs)
    assert fast.filter(F.col("cluster_id") != 0).count() == 0

    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(docs, pairs, max_iter=3, driver_edges_max=0)

    # warn mode returns (possibly split) labels instead of raising
    import warnings

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        dedup_clusters(
            docs, pairs, max_iter=3, on_nonconverged="warn", driver_edges_max=0
        ).count()
    assert any("did not converge" in str(w.message) for w in caught)


def test_contamination_kgram_overlap(spark):
    """A train doc sharing a 5-gram with any heldout doc is flagged with
    the distinct-shingle overlap count; others are not."""
    from eventkit_spark.llm.dedup import contamination

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated text about sparks and engines here"),
            (3, "short text"),
        ],
        "doc_id long, text string",
    )
    heldout = spark.createDataFrame(
        [(100, "we saw the quick brown fox jumps again")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n_shared"] for r in contamination(train, heldout, k=5).collect()}
    # train doc 1 shares exactly one 5-gram: "the quick brown fox jumps"
    assert out == {1: 1}


def test_contamination_bloom_matches_join(spark):
    """The bloom-prefiltered path (zero-shuffle corpus probe + exact
    verify on the flagged residue) returns EXACTLY the join path's rows
    — false positives are eliminated by the verify stage."""
    from eventkit_spark.llm.dedup import contamination
    from eventkit_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    held = docs.filter(F.col("doc_id") % 5 == 0)
    for k, m in [(5, 1), (3, 2)]:
        a = sorted(map(tuple, contamination(train, held, k=k, min_overlap=m).collect()))
        b = sorted(
            map(tuple, contamination(train, held, k=k, min_overlap=m, method="bloom").collect())
        )
        assert a == b and len(a) > 0


def test_train_order_matches_global_sort(spark):
    """The salted two-phase rank must equal a brute-force global sort by
    the same seeded hash, for any slice count; same seed reproduces,
    different seed permutes differently."""
    from eventkit_spark.llm.sampling import portable_hash, train_order

    df = spark.range(101).select(F.col("id").alias("doc_id"))
    for slices in (1, 4, 32):
        got = {
            r["doc_id"]: r["rank"]
            for r in train_order(df, "doc_id", seed=7, slices=slices).collect()
        }
        b = portable_hash(F.col("doc_id") + F.lit(7 * 10007), 1 << 31)
        want = {
            r["doc_id"]: i
            for i, r in enumerate(df.withColumn("b", b).orderBy("b", "doc_id").collect())
        }
        assert got == want
    again = {
        r["doc_id"]: r["rank"] for r in train_order(df, "doc_id", seed=7).collect()
    }
    other = {
        r["doc_id"]: r["rank"] for r in train_order(df, "doc_id", seed=8).collect()
    }
    assert again == want and other != want
    assert sorted(other.values()) == list(range(101))


def test_substring_dedup_spans(spark):
    """A 13-token span shared by two docs survives only in the lowest
    (doc, pos) occurrence; the later copy is excised token-exactly and
    untouched docs pass through byte-identical."""
    from eventkit_spark.llm.dedup import substring_dedup

    boiler = "the quick brown fox jumps over the lazy dog again and again tonight"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + boiler),
            (2, "delta epsilon zeta " + boiler),
            (3, "unique words only in this document right here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in substring_dedup(docs, window=10).collect()}
    assert out[1]["n_removed"] == 0 and out[1]["text"].endswith(boiler)
    assert out[2]["n_removed"] == 13 and out[2]["text"] == "delta epsilon zeta"
    assert out[3]["n_removed"] == 0
    assert out[3]["text"] == "unique words only in this document right here"
    # overlapping duplicated windows merge: a doc that IS the boilerplate
    # twice over loses everything after the first copy
    twice = spark.createDataFrame(
        [(1, boiler), (2, boiler + " " + boiler)], "doc_id long, text string"
    )
    out2 = {r["doc_id"]: r for r in substring_dedup(twice, window=10).collect()}
    assert out2[1]["n_removed"] == 0
    assert out2[2]["n_removed"] == 26 and out2[2]["text"] == ""


def test_substring_dedup_degenerate_docs(spark):
    """NULL / empty / short-of-one-window docs flow through unharmed
    (round-7 ADVICE, low: split(NULL) -> NULL tokens used to feed
    sequence(0, -2), fabricating negative n_removed and positions)."""
    from eventkit_spark.llm.dedup import substring_dedup

    boiler = "the quick brown fox jumps over the lazy dog again and again tonight"
    docs = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "short doc"),
            (4, "alpha " + boiler),
            (5, "omega " + boiler),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in substring_dedup(docs, window=10).collect()}
    assert len(out) == 5  # every input doc reported, degenerate or not
    assert out[1]["n_tokens"] == 0 and out[1]["n_removed"] == 0
    assert out[1]["text"] == ""
    assert out[2]["n_removed"] == 0
    assert out[3]["n_removed"] == 0 and out[3]["text"] == "short doc"
    # the real dedup still fires alongside the degenerates
    assert out[4]["n_removed"] == 0
    assert out[5]["n_removed"] == 13 and out[5]["text"] == "omega"


def test_perplexity_buckets_ordering(spark):
    """Within each language every head score >= every middle >= every
    tail, and all three buckets are populated for the big languages."""
    from eventkit_spark.llm.text import perplexity_buckets
    from eventkit_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    rows = perplexity_buckets(docs).collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {}).setdefault(r["bucket"], []).append(
            r["avg_logprob"]
        )
    assert len(rows) == 500
    for lang, buckets in by_lang.items():
        if set(buckets) == {"head", "middle", "tail"}:
            assert min(buckets["head"]) >= max(buckets["middle"]) >= min(buckets["middle"])
            assert min(buckets["middle"]) >= max(buckets["tail"])
    assert any(set(b) == {"head", "middle", "tail"} for b in by_lang.values())
    # approx sketch path: same schema, same row count, buckets populated
    approx = perplexity_buckets(docs, approx=True)
    assert approx.columns == ["doc_id", "lang", "avg_logprob", "bucket"]
    assert approx.count() == 500


def test_unigram_logprob_hand_computed(spark):
    """Tiny corpus with hand-computed mean log-likelihoods: counts
    a=2 b=2 c=1, N=5; doc1 = ln(2/5), doc2 = (ln(2/5)+ln(1/5))/2."""
    from eventkit_spark.llm.text import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    assert out[1]["n_tokens"] == 3 and out[2]["n_tokens"] == 2
    assert out[1]["avg_logprob"] == -0.916291
    assert out[2]["avg_logprob"] == -1.262864


def test_c4_filters_rules(spark):
    """Each C4 rule exercised: no terminal punctuation, short lines, and
    blocklisted lines drop; docs with 'lorem ipsum'/'{' or too few kept
    lines drop entirely."""
    from eventkit_spark.llm.text import c4_filters

    docs = spark.createDataFrame(
        [
            (1, "this line has enough words here.\nno punctuation so dropped\nshort line.\nthe javascript line is dropped too.\nanother good long line survives here!"),
            (2, "good first line with many words.\nlorem ipsum makes the doc vanish."),
            (3, "code docs have a curly { brace.\nso this whole doc is gone now."),
            (4, "only one keepable line is not enough here."),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in c4_filters(docs, min_kept_lines=2).collect()}
    assert set(out) == {1}
    assert out[1]["n_lines"] == 5 and out[1]["n_kept"] == 2
    assert out[1]["text"] == (
        "this line has enough words here.\nanother good long line survives here!"
    )
    from eventkit_spark.llm.dedup import contamination

    train = spark.createDataFrame([(1, "some training text here")], "doc_id long, text string")
    held = train.filter("doc_id < 0")
    assert contamination(train, held, method="bloom").count() == 0


def test_repetition_stats_fractions(spark):
    """Crafted strings with known duplicate-word / top-gram fractions."""
    from eventkit_spark.llm.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # 4 words, 1 distinct
            (2, "all words here are distinct"),  # 5 words, 5 distinct
            (3, "one"),                          # single word
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    r1 = out[1]
    assert r1["n_words"] == 4 and r1["dup_word_frac"] == 0.75
    assert r1["top_word_frac"] == 1.0
    assert r1["top_bigram_frac"] == 1.0  # "spam spam" x3 of 3 bigrams
    r2 = out[2]
    assert r2["dup_word_frac"] == 0.0 and r2["top_word_frac"] == 0.2
    assert r2["top_bigram_frac"] == 0.25
    r3 = out[3]
    assert r3["n_words"] == 1 and r3["dup_word_frac"] == 0.0


def test_pack_sequences_invariants(spark):
    """Every pack's token span starts inside its budget bucket; offsets
    are contiguous per shard; a doc never lands past its start bucket."""
    from eventkit_spark.llm.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (7 + i % 13))) for i in range(200)],
        "doc_id long, text string",
    )
    out = pack_sequences(docs, budget=32, n_shards=4).collect()
    assert len(out) == 200
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r["offset"])
        cum = 0
        for r in rows:
            assert r["offset"] == cum, "offsets must be the running token sum"
            assert r["pack_no"] == r["offset"] // 32
            cum += r["n_tokens"]


def test_source_quota_caps(spark):
    """Per-source caps hold exactly; uncapped sources fall to the '*'
    default; selection is deterministic across runs."""
    from eventkit_spark.llm.sampling import source_quota

    docs = spark.createDataFrame(
        [(i, f"src{i % 3}", f"text {i}") for i in range(90)],
        "doc_id long, source string, text string",
    )
    out = source_quota(docs, {"src0": 5, "*": 12}, "doc_id")
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts == {"src0": 5, "src1": 12, "src2": 12}
    ids1 = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(r["doc_id"] for r in source_quota(docs, {"src0": 5, "*": 12}, "doc_id").collect())
    assert ids1 == ids2
    flat = source_quota(docs, 7, "doc_id")
    assert flat.count() == 21


def _column_api_simhash(tokens):
    """simhash64's sign-sum aggregate and OR as Column-API expressions
    (the reference the SQL-text form must equal bit for bit)."""
    aggs = [
        F.sum(F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"__b{i}")
        for i in range(64)
    ] + [F.count("*").alias("__n")]
    v = tokens.groupBy("id").agg(*aggs)
    fp = F.lit(0).cast("long")
    for i in range(64):
        fp = fp.bitwiseOR(
            F.when(F.col(f"__b{i}") * 2 > F.col("__n"), F.shiftleft(F.lit(1).cast("long"), i))
            .otherwise(F.lit(0).cast("long"))
        )
    return v.select("id", fp.alias("simhash"))


def _column_api_minhash(hashed, num_hashes, bands, portable):
    """_minhash_cols' min aggregates and _band_buckets' band structs as
    Column-API expressions, over the (id, __sh64) hashed shingles."""
    from eventkit_spark.llm.dedup import _MH_A, _MH_B, _MH_P

    if portable:
        mins = [
            F.min((F.lit(_MH_A[i]) * F.col("__sh64") + F.lit(_MH_B[i])) % F.lit(_MH_P))
            .alias(f"__m{i}")
            for i in range(num_hashes)
        ]
    else:
        mins = [F.min(F.xxhash64("__sh64", F.lit(i))).alias(f"__m{i}") for i in range(num_hashes)]
    mh = hashed.groupBy("id").agg(*mins)
    r = num_hashes // bands
    sig = mh.select("id", F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("signature"))
    structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(F.concat_ws(",", *[F.col(f"__m{b * r + j}") for j in range(r)])).alias("bucket"),
        )
        for b in range(bands)
    ]
    banded = mh.select("id", F.explode(F.array(*structs)).alias("bb")).select(
        "id", "bb.band", "bb.bucket"
    )
    return sig, banded


def test_wide_sql_text_matches_column_api(spark):
    """The wide column sets built as SQL text (simhash64's 64 sums and
    64-term OR, the minhash mins, signature array and band buckets) give
    the same rows as the Column-API form, for both hash families."""
    from eventkit_spark.llm import dedup

    docs = load_table(spark, SF, "documents")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    tokens = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    ).select("id", F.xxhash64("tok").alias("h"))
    assert rows(dedup.simhash64(docs)) == rows(_column_api_simhash(tokens))
    for portable in (False, True):
        mh = dedup._minhash_cols(docs, 16, 3, "text", "doc_id", portable)
        ex = docs.select(
            F.col("doc_id").alias("id"),
            F.explode(dedup._shingles(F.col("text"), 3)).alias("__sh"),
        )
        fold = (
            F.conv(F.substring(F.md5(F.col("__sh")), 1, 15), 16, 10).cast("long")
            % F.lit(1 << 31)
            if portable else F.xxhash64("__sh")
        )
        sig, banded = _column_api_minhash(ex.select("id", fold.alias("__sh64")), 16, 4, portable)
        assert rows(mh.select("id", *[f"__m{i}" for i in range(16)])) == rows(
            sig.select("id", *[F.col("signature")[i] for i in range(16)])
        )
        got_sig = dedup.minhash_signatures(docs, num_hashes=16, portable=portable)
        assert rows(got_sig) == rows(sig)
        got_band = dedup._band_buckets(docs, 16, 4, 3, "text", "doc_id", portable)
        assert rows(got_band) == rows(banded)


def test_simhash_posting_list_pairs(spark):
    """Exact duplicates land at hamming 0 in every chunk; the posting
    list path must emit each pair exactly once, never (b, a) twins."""
    from eventkit_spark.llm.dedup import simhash_near_dups

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "the quick brown fox jumps over the lazy dog"),
            (4, "a completely different document about engines"),
            (5, "yet another unrelated piece of text entirely"),
        ],
        "doc_id long, text string",
    )
    rows = simhash_near_dups(docs, max_hamming=3).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in rows}
    assert got == {(1, 2): 0, (1, 3): 0, (2, 3): 0}
    assert all(a < b for a, b in got)


def test_jaccard_max_df_prunes_only_downward(spark):
    """df-pruning may drop pairs or lower scores, never invent them."""
    from eventkit_spark.llm.dedup import ngram_jaccard_pairs

    docs = load_table(spark, SF, "documents")
    full = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
            ngram_jaccard_pairs(docs, k=3, threshold=0.3).collect()}
    pruned = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
              ngram_jaccard_pairs(docs, k=3, threshold=0.3, max_df=64).collect()}
    assert set(pruned) <= set(full)
    for k, v in pruned.items():
        assert v <= full[k] + 1e-9


def test_asof_join_semantics(spark):
    """Left as-of: latest right <= left ts per key; equal-ts right rows
    are visible; tolerance expires stale matches; no-match keeps NULLs."""
    from datetime import datetime

    from eventkit_spark.operators.relational import asof_join

    T = lambda s: datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, "k", T(5), 50.0), (2, "k", T(10), 100.0), (3, "j", T(1), 10.0)],
        "id long, k string, ts timestamp, value double",
    )
    right = spark.createDataFrame(
        [("k", T(4), 4.0), ("k", T(10), 10.0), ("k", T(11), 11.0)],
        "k string, ts timestamp, q double",
    )
    out = {r["id"]: (r["q"], r["ts_r"]) for r in
           asof_join(left, right, "ts", by="k", right_cols=["q"]).collect()}
    assert out[1] == (4.0, T(4))
    assert out[2] == (10.0, T(10))   # equal-ts right row is visible
    assert out[3] == (None, None)    # no prior right row for key j
    tol = {r["id"]: r["q"] for r in
           asof_join(left, right, "ts", by="k", right_cols=["q"], tolerance=0.5).collect()}
    assert tol == {1: None, 2: 10.0, 3: None}  # k@5's match (ts 4) is stale


def test_asof_join_unkeyed_carry_forward(spark):
    """by=None must (a) bucket on DETERMINISTIC quantile boundaries
    instead of one global window — the plan shows a __pid-keyed window
    over a plain lazy scan (no localCheckpoint/ExistingRDD pin, no
    nondeterministic spark_partition_id) — and (b) still produce exact
    as-of semantics across bucket boundaries (carry-in), including
    numeric-ts tolerance in column units."""
    from eventkit_spark.operators.relational import asof_join

    n = 5000
    left = spark.range(n).select(
        F.col("id"), (F.col("id") * 10).alias("ts"), (F.col("id") * 1.0).alias("value")
    )
    # sparse right stream: one quote every 50 ticks, offset +5
    right = spark.range(n // 50).select(
        (F.col("id") * 500 + 5).alias("ts"), (F.col("id") * 100.0).alias("q")
    )
    out = asof_join(left, right, "ts", right_cols=["q"], partitions=8)
    # fully lazy + fault-tolerant: no pinned RDD scan, no partition-id
    # nondeterminism — bucket ids are pure expressions over broadcast
    # quantile boundaries, recomputable on executor loss
    assert not node_counts(out)["RDDScanExec"]
    assert "SparkPartitionID" not in {node_class(x) for x in plan_expressions(out)}
    # the data path windows on __pid (parallel, hash-shuffled on the
    # bucket id), not on a SinglePartition sort of the union
    assert any("__pid" in w.keys for w in windows(out))
    # (the only single-partition window left is the #partitions-row
    # carry table — the data path itself is the parallel bucket window)
    rows = {r["id"]: (r["q"], r["ts_r"]) for r in out.collect()}
    assert len(rows) == n
    for i in (0, 1, 49, 50, 51, 499, 500, 2501, n - 1):
        ts = i * 10
        k = (ts - 5) // 500  # latest right with right.ts <= ts
        exp = (k * 100.0, k * 500 + 5) if ts >= 5 else (None, None)
        assert rows[i] == exp, (i, rows[i], exp)

    # numeric tolerance: matches older than 20 ticks expire
    tol = {r["id"]: r["q"] for r in
           asof_join(left, right, "ts", right_cols=["q"], tolerance=20,
                     partitions=8).collect()}
    assert tol[1] == 0.0      # ts=10, match at 5: age 5 <= 20
    assert tol[4] is None     # ts=40, match at 5: age 35 > 20
    assert tol[51] == 100.0   # ts=510, match at 505


def test_bucket_caps_prune_only_downward(spark):
    """max_bucket on minhash/simhash may drop pairs, never invent them;
    with a generous cap the pair sets are identical. The simhash cap is
    the hot-set aggregate + anti-join, never a count window (a window
    shuffles a whole hot bucket into one task before dropping it)."""
    from eventkit_spark.llm.dedup import minhash_lsh_candidates, simhash_near_dups

    docs = load_table(spark, SF, "documents")
    mh_all = {(r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(docs).collect()}
    mh_cap = {(r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(docs, max_bucket=500).collect()}
    mh_tight = {(r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(docs, max_bucket=2).collect()}
    assert mh_cap == mh_all and mh_tight <= mh_all
    sh_all = {(r["id_a"], r["id_b"]) for r in simhash_near_dups(docs).collect()}
    sh_cap = {(r["id_a"], r["id_b"]) for r in simhash_near_dups(docs, max_bucket=500).collect()}
    tight = simhash_near_dups(docs, max_bucket=2)
    sh_tight = {(r["id_a"], r["id_b"]) for r in tight.collect()}
    assert sh_cap == sh_all and sh_tight <= sh_all
    assert "Window" not in {node_class(n) for n in plan_nodes(tight, "optimized")}


def test_pack_spans_exact_budget(spark):
    """Every non-tail pack holds exactly `budget` tokens; spans tile each
    document completely and in order; straddling docs split."""
    from eventkit_spark.llm.sampling import pack_spans

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (11 + (i * 7) % 23))) for i in range(60)],
        "doc_id long, text string",
    )
    rows = pack_spans(docs, budget=32, n_shards=3).collect()
    # per-doc tiling: spans cover [0, n_tokens) contiguously
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, spans in by_doc.items():
        spans.sort(key=lambda r: r["pack_no"])
        assert spans[0]["tok_start"] == 0
        for a, b in zip(spans, spans[1:]):
            assert a["tok_end"] == b["tok_start"]
    # per-pack budget: every pack except each shard's last is exactly 32
    packs = {}
    for r in rows:
        key = (r["shard"], r["pack_no"])
        packs[key] = packs.get(key, 0) + (r["tok_end"] - r["tok_start"])
    for shard in {s for s, _ in packs}:
        nums = sorted(p for s, p in packs if s == shard)
        for p in nums[:-1]:
            assert packs[(shard, p)] == 32, f"pack {(shard, p)} not full"
        assert packs[(shard, nums[-1])] <= 32


def test_source_quota_salted_exact(spark):
    """salt=N (skew-safe two-phase) must return EXACTLY the unsalted
    subset — phase 1 only pre-prunes along the same total order."""
    from eventkit_spark.llm.sampling import source_quota

    docs = load_table(spark, SF, "documents")
    plain = {r["doc_id"] for r in source_quota(docs, {"src0": 3, "*": 7}, "doc_id").collect()}
    salted = {r["doc_id"] for r in source_quota(docs, {"src0": 3, "*": 7}, "doc_id", salt=5).collect()}
    assert salted == plain and len(plain) > 0


def test_hash_embed_roundtrip_similarity(spark):
    """hash_embed -> densify feeds the ANN ops: unit norms, identical
    texts embed identically (cos 1 via near-dups), distinct texts don't."""
    from eventkit_spark.llm.text import densify_embedding, hash_embed

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different words live in this document here"),
        ],
        "doc_id long, text string",
    )
    dense = densify_embedding(hash_embed(docs, dim=32), dim=32, id_col="doc_id")
    rows = {r["doc_id"]: r["embedding"] for r in dense.collect()}
    import math

    for v in rows.values():
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-4
    assert rows[1] == rows[2] != rows[3]

    pairs = embedding_near_dups(
        dense.withColumnRenamed("doc_id", "vec_id"), threshold=0.99
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_stratified_salted_exact(spark):
    """Salted stratified sample == unsalted (same total order, exact
    per-group ceil(n*frac) counts)."""
    from eventkit_spark.llm.sampling import stratified_sample

    docs = load_table(spark, SF, "documents")
    plain = {r["doc_id"] for r in stratified_sample(docs, "lang", 0.25, "doc_id").collect()}
    salted = {r["doc_id"] for r in stratified_sample(docs, "lang", 0.25, "doc_id", salt=4).collect()}
    assert salted == plain and len(plain) > 0


def test_line_dedup_keep_first(spark):
    """Every distinct line survives once at its first (doc, pos); docs
    reassemble in order; all-dup docs come back empty but present."""
    from eventkit_spark.llm.text import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "header\nalpha\nbeta"),
            (2, "header\ngamma\nalpha"),
            (3, "header\nalpha"),
            (4, "delta\ndelta\ndelta"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert (out[1]["n_lines"], out[1]["n_kept"], out[1]["text"]) == (3, 3, "header\nalpha\nbeta")
    assert (out[2]["n_lines"], out[2]["n_kept"], out[2]["text"]) == (3, 1, "gamma")
    assert (out[3]["n_lines"], out[3]["n_kept"], out[3]["text"]) == (2, 0, "")
    # within-doc repeats also keep only the first
    assert (out[4]["n_lines"], out[4]["n_kept"], out[4]["text"]) == (3, 1, "delta")


def test_redact_pii(spark):
    """Emails, IPv4s and phone-shaped digit runs become typed tokens;
    counts measured pre-replacement; clean text passes through intact."""
    from eventkit_spark.llm.text import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.co.uk or call +1 (555) 123-4567"),
            (2, "server 192.168.0.1 and 10.0.0.255 are up"),
            (3, "perfectly clean text with number 7"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1
    assert "<EMAIL>" in out[1]["text"] and "<PHONE>" in out[1]["text"]
    assert "example" not in out[1]["text"] and "555" not in out[1]["text"]
    assert out[2]["n_ip"] == 2 and out[2]["text"].count("<IP>") == 2
    assert out[2]["n_phone"] == 0  # IPs are typed before the phone stage
    assert out[3]["text"] == "perfectly clean text with number 7"
    assert (out[3]["n_email"], out[3]["n_ip"], out[3]["n_phone"]) == (0, 0, 0)


def test_temperature_mix_quotas(spark):
    """alpha=1 keeps natural proportions, alpha=0 splits uniformly,
    quotas never exceed a source's size, and the cut is deterministic."""
    from eventkit_spark.llm.sampling import temperature_mix

    rows = [(i, "big" if i < 800 else ("mid" if i < 950 else "small"))
            for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    def dist(alpha, total=100):
        out = temperature_mix(df, total=total, key_col="doc_id", alpha=alpha)
        return {r["source"]: r["n"] for r in
                out.groupBy("source").agg(F.count("*").alias("n")).collect()}

    nat = dist(alpha=1.0)
    assert abs(nat.get("big", 0) - 80) <= 1 and abs(nat.get("small", 0) - 5) <= 1
    uni = dist(alpha=0.0)
    assert max(uni.values()) - min(uni.values()) <= 1  # uniform per source
    half = dist(alpha=0.5, total=120)
    assert all(n <= {"big": 800, "mid": 150, "small": 50}[s] for s, n in half.items())
    # temperature flattens: small source's share grows as alpha drops
    assert half["small"] / sum(half.values()) > nat["small"] / sum(nat.values())
    # deterministic
    a = {r["doc_id"] for r in temperature_mix(df, 100, "doc_id").collect()}
    b = {r["doc_id"] for r in temperature_mix(df, 100, "doc_id").collect()}
    assert a == b


def test_sliding_chunks_overlap(spark):
    """Windows advance by stride with size-stride token overlap; the
    final short window keeps the tail; single-window docs pass through."""
    from eventkit_spark.llm.sampling import sliding_chunks

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b c")],
        "doc_id long, text string",
    )
    out = sorted(
        ((r["doc_id"], r["chunk_no"], r["n_tokens"], r["chunk"])
         for r in sliding_chunks(docs, size=4, stride=3).collect())
    )
    exp1 = [
        (1, 0, 4, "t0 t1 t2 t3"),
        (1, 1, 4, "t3 t4 t5 t6"),
        (1, 2, 4, "t6 t7 t8 t9"),
    ]
    assert [c for c in out if c[0] == 1] == exp1
    assert [c for c in out if c[0] == 2] == [(2, 0, 3, "a b c")]
    # every adjacent pair overlaps by size - stride tokens
    assert exp1[0][3].split()[-1] == exp1[1][3].split()[0]


def test_top_ngrams_vocab(spark):
    """Global top-k grams with deterministic ranks; the top-k plans as
    TakeOrderedAndProject (per-partition heaps), not a global sort."""
    from eventkit_spark.llm.text import top_ngrams

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b x"), (3, "a y")],
        "doc_id long, text string",
    )
    # a=4, b=3, then c/x/y all cnt=1 -> tie broken by gram text: 'c'
    uni = {(r["gram"], r["cnt"]) for r in top_ngrams(docs, n=1, k=3).collect()}
    assert uni == {("a", 4), ("b", 3), ("c", 1)}
    uni_full = [(r["rank"], r["gram"]) for r in top_ngrams(docs, n=1, k=3)
                .orderBy("rank").collect()]
    assert uni_full == [(1, "a"), (2, "b"), (3, "c")]
    bi = [(r["rank"], r["gram"], r["cnt"]) for r in top_ngrams(docs, n=2, k=2)
          .orderBy("rank").collect()]
    assert bi == [(1, "a b", 3), (2, "a y", 1)]
    top = top_ngrams(docs, n=1, k=3).drop("rank")
    assert node_counts(top)["TakeOrderedAndProjectExec"]


def test_fuzzy_dedup_transitive_keep_list(spark):
    """fuzzy_dedup end-to-end: a~b and b~c land in ONE cluster even when
    a and c are not directly similar; keep = the smallest doc id per
    cluster; singletons keep themselves; minhash-prefiltered result
    equals the exact-pairs result (recall 1 at these params)."""
    from eventkit_spark.llm.dedup import fuzzy_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base + " one two three four"),
        (2, base + " one two three five"),   # ~1 strongly
        (3, base + " one two six five"),     # ~2, weaker ~1
        (10, "totally different text about completely other topics here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in
           fuzzy_dedup(docs, threshold=0.5).collect()}
    assert out[1] == (1, True)
    assert out[2] == (1, False)
    assert out[3] == (1, False)   # transitive via 2
    assert out[10] == (10, True)  # singleton keeps itself
    exact = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in
             fuzzy_dedup(docs, threshold=0.5, prefilter=None).collect()}
    assert exact == out


def test_dedup_safe_split_colocates_near_dups(spark):
    """dedup_safe_split: every member of a near-dup component gets the
    SAME split label (keyed by cluster_id, not doc id); singletons
    split by their own id exactly like split_by_hash; pairs= and
    clusters= inputs agree; passing both/neither rejects."""
    import pytest

    from eventkit_spark.llm.dedup import fuzzy_dedup
    from eventkit_spark.llm.sampling import dedup_safe_split, split_by_hash

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base + " one two three four"),
        (2, base + " one two three five"),
        (3, base + " one two six five"),
        (10, "totally different text about completely other topics here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fz = fuzzy_dedup(docs, threshold=0.5)
    out = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in
           dedup_safe_split(docs, clusters=fz).collect()}
    # 1, 2, 3 are one component -> identical split labels
    assert out[1] == out[2] == out[3]
    # singleton splits exactly as the plain doc-keyed split would
    plain = {r["doc_id"]: r["split"] for r in
             split_by_hash(docs, "doc_id").collect()}
    assert out[10] == (10, plain[10])
    # pairs= path agrees with clusters= path
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    via_pairs = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in
                 dedup_safe_split(docs, pairs=pairs).collect()}
    assert via_pairs == out
    with pytest.raises(ValueError):
        dedup_safe_split(docs)
    with pytest.raises(ValueError):
        dedup_safe_split(docs, pairs=pairs, clusters=fz)


def test_linear_quality_classifier(spark):
    """fastText-style scoring: score == sigmoid(w.x + b) on the
    hash_embed features (verified against a local recomputation),
    threshold adds the keep flag, weight-length mismatch rejects."""
    import math

    import pytest

    from eventkit_spark.llm.text import hash_embed, linear_quality_classifier

    docs = spark.createDataFrame(
        [(1, "alpha beta beta gamma"), (2, "delta delta delta"), (3, "")],
        "doc_id long, text string",
    )
    W = [((i * 7) % 11 - 5) / 5 for i in range(16)]
    out = {r["doc_id"]: r for r in
           linear_quality_classifier(docs, W, bias=0.2, dim=16, threshold=0.5).collect()}
    feats = hash_embed(docs, dim=16).collect()
    exp = {}
    for r in feats:
        exp.setdefault(r["doc_id"], 0.0)
        exp[r["doc_id"]] += r["w"] * W[r["bucket"]]
    for d, dot in exp.items():
        want = round(1.0 / (1.0 + math.exp(-(dot + 0.2))), 6)
        assert abs(out[d]["score"] - want) < 2e-6, (d, out[d]["score"], want)
        assert out[d]["keep"] == (out[d]["score"] >= 0.5)
    with pytest.raises(ValueError):
        linear_quality_classifier(docs, W, dim=32)


def test_semantic_dedup_transitive_clusters(spark):
    """SemDeDup composition: planted near-identical vectors cluster
    transitively (a~b, b~c), the smallest id survives, unrelated
    vectors are singletons."""
    import numpy as np

    from eventkit_spark.llm.similarity import semantic_dedup

    rng = np.random.default_rng(11)
    base = rng.normal(size=(30, 16))
    a = base[0]
    b = a + 0.02 * rng.normal(size=16)   # ~a
    c = b + 0.02 * rng.normal(size=16)   # ~b (and ~a transitively)
    vecs = [a, b, c, *base[1:]]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: (r["cluster_id"], r["keep"]) for r in
           semantic_dedup(emb, threshold=0.98).collect()}
    assert out[0] == (0, True)
    assert out[1] == (0, False) and out[2] == (0, False)
    assert len(out) == 32 and sum(1 for c, k in out.values() if k) == 30


def test_interval_join_binned_equals_naive(spark):
    """Binned point-in-interval join == the naive inequality join on
    random data (keys, overlapping/degenerate/reversed intervals),
    and the plan is an equi-join, not BroadcastNestedLoop."""
    import random

    from eventkit_spark.operators.relational import interval_join

    rng = random.Random(5)
    ev_rows = [(i, rng.choice("ab"), rng.uniform(0, 100)) for i in range(300)]
    iv_rows = []
    for j in range(60):
        s = rng.uniform(0, 100)
        ln = rng.uniform(0, 15) if j % 7 else -1.0  # every 7th reversed
        iv_rows.append((j, rng.choice("ab"), s, s + ln))
    ev = spark.createDataFrame(ev_rows, "eid long, k string, ts double")
    iv = spark.createDataFrame(iv_rows, "iid long, k string, start double, end double")
    out = interval_join(ev, iv, by="k")
    got = {(r["eid"], r["iid"]) for r in out.collect()}
    exp = {
        (e, j)
        for e, ek, t in ev_rows
        for j, jk, s, en in iv_rows
        if ek == jk and s <= t <= en
    }
    assert got == exp and len(exp) > 0
    assert not node_counts(out)["BroadcastNestedLoopJoinExec"]
    # events carry extra payload columns through with suffixing
    out2 = interval_join(
        ev.withColumnRenamed("k", "kk"), iv.withColumnRenamed("k", "kk"),
        by="kk", right_cols=["iid", "start"],
    )
    assert set(out2.columns) == {"eid", "kk", "ts", "iid", "start"}


def test_funnel_ordered_chain(spark):
    """Funnel semantics: steps must occur in order from the earliest
    step-1 match (greedy-earliest); partial funnels keep NULL tails;
    `within` gates conversion on the t1->tn span."""
    from eventkit_spark.operators.relational import funnel

    rows = [
        # u1: a@0, b@10, c@20 -> full chain
        (1, "a", 0.0), (1, "b", 10.0), (1, "c", 20.0),
        # u2: b BEFORE a -> chain stops after a (no b at/after t1)
        (2, "b", 0.0), (2, "a", 5.0), (2, "c", 9.0),
        # u3: full chain but too slow for within=15
        (3, "a", 0.0), (3, "b", 1.0), (3, "c", 100.0),
        # u4: no step-1 event at all -> absent from output
        (4, "b", 0.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, et string, ts double")
    out = {r["user_id"]: r for r in funnel(
        df,
        steps=[F.col("et") == "a", F.col("et") == "b", F.col("et") == "c"],
        by="user_id",
        within=25.0,
    ).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["steps_completed"] == 3 and out[1]["converted"]
    assert out[2]["steps_completed"] == 1 and not out[2]["converted"]
    assert out[2]["t2"] is None and out[2]["t3"] is None
    assert out[3]["steps_completed"] == 3 and not out[3]["converted"]
    # u2's c@9 must NOT count: step 3 needs step 2 first


def test_jaccard_verify_equals_inverted_index(spark):
    """jaccard_verify on the all-pairs candidate set must reproduce
    ngram_jaccard_pairs exactly (same distinct-shingle jaccard), and
    restrict correctly when given a partial candidate set."""
    from eventkit_spark.llm.dedup import jaccard_verify, ngram_jaccard_pairs

    docs = load_table(spark, SF, "documents").limit(60)
    exact = {(r["id_a"], r["id_b"]): round(r["jaccard"], 6)
             for r in ngram_jaccard_pairs(docs, k=3, threshold=0.3).collect()}
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    allpairs = spark.createDataFrame(
        [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]],
        "id_a long, id_b long",
    )
    got = {(r["id_a"], r["id_b"]): round(r["jaccard"], 6)
           for r in jaccard_verify(docs, allpairs, k=3, threshold=0.3).collect()}
    assert got == exact and len(exact) > 0
    # partial candidates: output restricted to the given pairs
    some = spark.createDataFrame(sorted(exact)[:2], "id_a long, id_b long")
    sub = {(r["id_a"], r["id_b"]) for r in
           jaccard_verify(docs, some, k=3, threshold=0.3).collect()}
    assert sub == set(sorted(exact)[:2])


def test_tfidf_cosine_pairs_brute_force_equality(spark):
    """The posting-list all-pairs cosine must equal a brute-force
    tf-idf vector cosine computed driver-side (max_df=None so the
    guard can't hide disagreement), and the max_df prune must only
    LOWER scores (monotone guard, same law the jaccard prune obeys)."""
    import math
    from collections import Counter, defaultdict

    from eventkit_spark.llm.sampling import tfidf_cosine_pairs

    docs = load_table(spark, SF, "documents").limit(120).cache()
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    n = len(rows)
    tf = {i: Counter(t.lower().strip().split()) for i, t in rows}
    df = Counter(term for c in tf.values() for term in c)
    vec = {
        i: {t: c * (math.log((n + 1) / (df[t] + 1)) + 1.0) for t, c in cnt.items()}
        for i, cnt in tf.items()
    }
    nrm = {i: math.sqrt(sum(w * w for w in v.values())) for i, v in vec.items()}
    expected = {}
    ids = sorted(vec)
    for ai, a in enumerate(ids):
        for b in ids[ai + 1:]:
            small, big = (vec[a], vec[b]) if len(vec[a]) < len(vec[b]) else (vec[b], vec[a])
            dot = sum(w * big.get(t, 0.0) for t, w in small.items())
            cos = round(dot / (nrm[a] * nrm[b]), 6)
            if cos >= 0.3:
                expected[(a, b)] = cos
    got = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in tfidf_cosine_pairs(docs, threshold=0.3).collect()
    }
    assert set(got) == set(expected)
    for k in got:
        assert abs(got[k] - expected[k]) <= 1e-6
    pruned = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in tfidf_cosine_pairs(docs, threshold=0.3, max_df=30).collect()
    }
    assert set(pruned) <= set(got)
    for k, v in pruned.items():
        assert v <= got[k] + 1e-9


def test_dsir_logratio_ranks_target_like_docs_higher(spark):
    """A raw doc sharing the target's token distribution must out-score
    a raw doc disjoint from it; the buckets-sized weight table must
    BROADCAST onto the scoring join (the 100 TB shape)."""
    from eventkit_spark.llm.sampling import dsir_logratio

    raw = spark.createDataFrame(
        [(0, "alpha alpha beta alpha"), (1, "zog zog qux zog")],
        ["doc_id", "text"],
    )
    tgt = spark.createDataFrame([(9, "alpha beta alpha alpha")], ["doc_id", "text"])
    out = dsir_logratio(raw, tgt, buckets=64)
    got = {r["doc_id"]: r["logw"] for r in out.collect()}
    assert got[0] > got[1]
    assert node_counts(out)["BroadcastHashJoinExec"]


def test_char_entropy_known_values_and_no_shuffle(spark):
    """Closed-form checks: a one-symbol string has 0 bits, a perfectly
    balanced binary string has exactly 1 bit; the plan must contain NO
    exchange (the kernel reads each doc's text in place)."""
    from eventkit_spark.llm.text import char_entropy

    docs = spark.createDataFrame(
        [(0, "aaaa"), (1, "abab"), (2, ""), (3, "aA1a")],
        ["doc_id", "text"],
    )
    out = char_entropy(docs)
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[0]["entropy"] == 0.0
    assert got[1]["entropy"] == 1.0
    assert got[2]["entropy"] == 0.0 and got[2]["n_chars"] == 0
    assert got[3]["digit_ratio"] == 0.25 and got[3]["upper_ratio"] == 0.25
    assert count_shuffles(out) == 0


def test_hard_negatives_excludes_before_cut(spark):
    """Positives never consume a rank slot: with positives = exact
    top-2, the mined set is EXACTLY ranks 3..k+2 of the unexcluded
    ordering re-ranked 1..k, every query still gets k rows, and no
    positive pair appears."""
    import numpy as np

    from eventkit_spark.llm.similarity import brute_force_topk, hard_negatives

    rng = np.random.RandomState(11)
    x = rng.randn(60, 16)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    qs = emb.filter(F.col("vec_id") < 4)
    full = brute_force_topk(emb, qs, k=7)
    pos = full.filter(F.col("rank") <= 2).select("query_id", "neighbor_id")
    mined = hard_negatives(emb, qs, pos, k=5)
    got = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in mined.collect()}
    exp = {(r["query_id"], r["rank"] - 2): r["neighbor_id"]
           for r in full.filter(F.col("rank") > 2).collect()}
    assert got == exp
    assert len(got) == 4 * 5  # every query keeps k slots
    pos_set = {(r["query_id"], r["neighbor_id"]) for r in pos.collect()}
    mined_set = {(r["query_id"], r["neighbor_id"]) for r in mined.collect()}
    assert not (pos_set & mined_set)


def test_pq_topk_lossless_when_codebook_covers_points(spark):
    """With ks >= #distinct subvectors PQ is lossless (every subvector
    IS a centroid), so pure-ADC top-k must EQUAL the exact squared-L2
    top-k — the full-probe-style invariant that proves the LUT/argmin/
    local-topk machinery without tolerating quantization error. The
    refine path must additionally report EXACT distances."""
    import math
    import random

    from eventkit_spark.llm.cluster import pq_topk
    from eventkit_spark.llm.similarity import brute_force_topk

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], round(r["dist2"], 6))
        for r in brute_force_topk(emb, q, k=5, metric="l2").collect()
    }
    adc = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], round(r["adc_dist2"], 6))
        for r in pq_topk(emb, q, k=5, m=2, ks=32, max_iter=4).collect()
    }
    assert set(adc) == set(exact)
    for key in exact:
        assert adc[key][0] == exact[key][0]
        assert math.isclose(adc[key][1], exact[key][1], abs_tol=1e-5)
    refined = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["dist2"])
        for r in pq_topk(emb, q, k=5, m=2, ks=32, max_iter=4, refine=2).collect()
    }
    for key in exact:
        assert refined[key] == exact[key]


def test_containment_catches_subset_dup_jaccard_misses(spark):
    """A short doc embedded verbatim in a long doc: containment(A in B)
    = 1.0 while jaccard is small — the asymmetric signal is the point."""
    from eventkit_spark.llm.dedup import ngram_containment_pairs, ngram_jaccard_pairs

    short = "alpha beta gamma delta epsilon"
    long = short + " " + " ".join(f"w{i} x{i} y{i}" for i in range(40))
    docs = spark.createDataFrame([(1, short), (2, long)], ["doc_id", "text"])
    cont = ngram_containment_pairs(docs, k=3, threshold=0.9).collect()
    assert len(cont) == 1 and cont[0]["cont_ab"] == 1.0
    jac = ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()
    assert jac == []  # jaccard ~ |A|/|B| << 0.5 for the same pair


def test_ngram_novelty_duplicate_family(spark):
    """The lowest-id member of a duplicate family scores 1.0, an exact
    copy scores 0.0, and a half-overlapping doc scores its fresh-shingle
    fraction exactly."""
    from eventkit_spark.llm.dedup import ngram_novelty

    a = "one two three four five six"           # 4 shingles, all first
    b = a                                        # copy: 0 novel
    c = "one two three nine ten eleven twelve"  # shares 'one two three'
    docs = spark.createDataFrame([(1, a), (2, b), (3, c)], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in ngram_novelty(docs, k=3).collect()}
    assert got[1]["novelty"] == 1.0 and got[1]["n_shingles"] == 4
    assert got[2]["novelty"] == 0.0
    # c: 5 shingles, 'one two three' seen in doc 1 -> 4/5 novel
    assert got[3]["n_shingles"] == 5 and got[3]["novelty"] == 0.8


def test_ivfpq_full_probe_equals_pq_topk(spark):
    """With nprobe == n_cells every cell is probed, so IVFADC must
    EQUAL plain PQ/ADC rank for rank (identical deterministic codebooks
    + LUTs; routing adds no loss at full probe) — the embed_ivf_recall
    pattern applied to the PQ composition. Also checks the refine path
    reports exact distances for the common shortlist."""
    import random

    from eventkit_spark.llm.cluster import ivfpq_topk, pq_topk

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") < 3)
    kw = dict(k=5, m=2, ks=8, max_iter=3)
    flat = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_dist2"])
        for r in pq_topk(emb, q, **kw).collect()
    }
    ivf = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_dist2"])
        for r in ivfpq_topk(emb, q, n_cells=4, nprobe=4, refine=0, **kw).collect()
    }
    assert ivf == flat
    ref = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivfpq_topk(emb, q, n_cells=4, nprobe=4, refine=2, **kw).collect()
    }
    assert len(ref) == 15  # 3 queries x 5 ranks, exact-distance re-rank


def test_contamination_report_directions_agree(spark):
    """A heldout doc fully copied from the corpus reports leak_frac 1.0
    and an unseen doc 0.0; the train side of the same pair is what
    `contamination` flags — the two directions must agree on overlap."""
    from eventkit_spark.llm.dedup import contamination, contamination_report

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")], ["doc_id", "text"]
    )
    held = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta"),
         (101, "one two three four five six seven eight")],
        ["doc_id", "text"],
    )
    rep = {r["doc_id"]: r for r in contamination_report(train, held, k=5).collect()}
    assert rep[100]["leak_frac"] == 1.0
    assert rep[101]["leak_frac"] == 0.0 and rep[101]["n_leaked"] == 0
    flagged = contamination(train, held, k=5, min_overlap=1).collect()
    assert [r["doc_id"] for r in flagged] == [1]


def test_minhash_portable_candidates_contain_planted_dups(spark):
    """The portable universal-hash family must behave like a real LSH:
    planted near-identical docs become candidates, disjoint docs do
    not; and the portable signature table is deterministic."""
    from eventkit_spark.llm.dedup import minhash_lsh_candidates, minhash_signatures

    a = " ".join(f"tok{i}" for i in range(60))
    b = a + " extra"                                # near-dup of a
    c = " ".join(f"zzz{i}" for i in range(60))      # disjoint
    docs = spark.createDataFrame([(1, a), (2, b), (3, c)], ["doc_id", "text"])
    cand = {(r["id_a"], r["id_b"])
            for r in minhash_lsh_candidates(docs, portable=True).collect()}
    assert (1, 2) in cand and (1, 3) not in cand and (2, 3) not in cand
    s1 = minhash_signatures(docs, portable=True).orderBy("id").collect()
    s2 = minhash_signatures(docs, portable=True).orderBy("id").collect()
    assert [r["signature"] for r in s1] == [r["signature"] for r in s2]


def test_count_min_sketch_properties(spark):
    """CMS invariants: est >= true for EVERY item (never undercounts);
    est == true when w is wide enough that no collisions occur; cells
    built on a union of two frames equal the cell-wise SUM of the two
    sketches (the mergeable-summary property that makes per-partition
    partials correct); weighted build matches pre-aggregated counts."""
    from eventkit_spark.llm.sketch import count_min_cells, count_min_estimate

    rows = [(f"w{i % 13}",) for i in range(997)] + [("hot",)] * 500
    df = spark.createDataFrame(rows, ["item"]).repartition(5)
    truth = {r["item"]: r["cnt"] for r in
             df.groupBy("item").agg(F.count("*").alias("cnt")).collect()}
    items = df.select("item").distinct()

    # tight w -> collisions; est must still dominate truth
    cells = count_min_cells(df, "item", d=4, w=8)
    est = {r["item"]: r["est"] for r in
           count_min_estimate(cells, items, "item", d=4, w=8).collect()}
    assert set(est) == set(truth)
    assert all(est[k] >= truth[k] for k in truth)
    assert any(est[k] > truth[k] for k in truth)  # collisions happened

    # wide w -> no collisions at 14 types: exact recovery
    cells_w = count_min_cells(df, "item", d=4, w=4096)
    est_w = {r["item"]: r["est"] for r in
             count_min_estimate(cells_w, items, "item", d=4, w=4096).collect()}
    assert est_w == truth

    # mergeability: cells(a union b) == cells(a) + cells(b) cell-wise
    a, b = df.randomSplit([0.5, 0.5], seed=7)
    u = count_min_cells(a.union(b), "item", d=3, w=8)
    pa = count_min_cells(a, "item", d=3, w=8)
    pb = count_min_cells(b, "item", d=3, w=8)
    merged = (
        pa.unionByName(pb)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    as_dict = lambda d_: {(r["row"], r["bucket"]): r["cnt"] for r in d_.collect()}  # noqa: E731
    assert as_dict(u) == as_dict(merged)

    # weighted build == building from the pre-counted type table
    pre = df.groupBy("item").agg(F.count("*").alias("wt"))
    cw = count_min_cells(pre, "item", d=4, w=8, weight_col="wt")
    assert as_dict(cw) == as_dict(cells)

    # keyed form: per-group cells == per-group recompute; keyed
    # estimates dominate per-group truth
    kdf = df.withColumn("g", (F.length("item") % 2).cast("int"))
    kcells = count_min_cells(kdf, "item", d=3, w=8, by="g")
    keyed = {}
    for r in kcells.collect():
        keyed.setdefault(r["g"], {})[(r["row"], r["bucket"])] = r["cnt"]
    for g in (0, 1):
        solo = as_dict(count_min_cells(kdf.filter(F.col("g") == g), "item", d=3, w=8))
        assert keyed.get(g, {}) == solo
    kest = {(r["g"], r["item"]): r["est"] for r in count_min_estimate(
        kcells, kdf.select("g", "item").distinct(), "item", d=3, w=8, by="g"
    ).collect()}
    ktruth = {(r["g"], r["item"]): r["cnt"] for r in
              kdf.groupBy("g", "item").agg(F.count("*").alias("cnt")).collect()}
    assert set(kest) == set(ktruth)
    assert all(kest[k] >= ktruth[k] for k in ktruth)


def test_hll_registers_and_estimate(spark):
    """HLL invariants: the register table matches a local recompute of
    the same md5-fold arithmetic; registers of a union == cell-wise MAX
    of the two sketches (mergeability); the estimate lands within 15%
    of the true cardinality at 20k distinct items (3x the p=9 standard
    error); p is validated."""
    import hashlib

    import pytest

    from eventkit_spark.llm.sketch import hll_estimate, hll_registers

    n = 20000
    df = spark.createDataFrame(
        [(f"item{i}",) for i in range(n)] * 2, ["k"]
    ).repartition(8)

    regs = hll_registers(df, "k", p=9)
    got = {r["bucket"]: r["reg"] for r in regs.collect()}

    exp: dict[int, int] = {}
    for i in range(n):
        h = int(hashlib.md5(f"item{i}".encode()).hexdigest()[:15], 16)
        bucket, w = h >> 51, h & ((1 << 51) - 1)
        rank = 52 if w == 0 else 52 - w.bit_length()
        exp[bucket] = max(exp.get(bucket, 0), rank)
    assert got == exp

    est = hll_estimate(regs, p=9).first()
    assert abs(est["est"] - n) <= 0.15 * n

    # mergeability: union registers == cell-wise max
    a = spark.createDataFrame([(f"item{i}",) for i in range(0, n, 2)], ["k"])
    b = spark.createDataFrame([(f"item{i}",) for i in range(1, n, 3)], ["k"])
    u = {r["bucket"]: r["reg"] for r in hll_registers(a.union(b), "k", p=9).collect()}
    ra = {r["bucket"]: r["reg"] for r in hll_registers(a, "k", p=9).collect()}
    rb = {r["bucket"]: r["reg"] for r in hll_registers(b, "k", p=9).collect()}
    merged = {k: max(ra.get(k, 0), rb.get(k, 0)) for k in set(ra) | set(rb)}
    assert u == merged

    with pytest.raises(ValueError):
        hll_registers(df, "k", p=2)

    # set operations: union sketch == sketch of the union (exact);
    # inclusion-exclusion intersection lands near the true overlap
    from eventkit_spark.llm.sketch import hll_intersection_estimate, hll_union

    au = {r["bucket"]: r["reg"] for r in hll_union(
        hll_registers(a, "k", p=9), hll_registers(b, "k", p=9)).collect()}
    direct = {r["bucket"]: r["reg"] for r in
              hll_registers(a.union(b), "k", p=9).collect()}
    assert au == direct
    inter = hll_intersection_estimate(
        hll_registers(a, "k", p=9), hll_registers(b, "k", p=9), p=9
    ).first()
    true_inter = a.intersect(b).count()
    assert abs(inter["est"] - true_inter) <= 0.3 * max(true_inter, 1)

    # keyed form: per-group registers == per-group recompute of the
    # global form, and per-group estimates land within margin
    kdf = spark.createDataFrame(
        [(f"g{i % 3}", f"item{i % (700 + 400 * (i % 3))}") for i in range(30000)],
        ["g", "k"],
    )
    keyed = {}
    for r in hll_registers(kdf, "k", p=8, by="g").collect():
        keyed.setdefault(r["g"], {})[r["bucket"]] = r["reg"]
    for g in ("g0", "g1", "g2"):
        solo = {r["bucket"]: r["reg"] for r in
                hll_registers(kdf.filter(F.col("g") == g), "k", p=8).collect()}
        assert keyed[g] == solo
    ests = {r["g"]: r["est"] for r in
            hll_estimate(hll_registers(kdf, "k", p=8, by="g"), p=8, by="g").collect()}
    truth = {r["g"]: r["n"] for r in
             kdf.groupBy("g").agg(F.countDistinct("k").alias("n")).collect()}
    for g, n in truth.items():
        assert abs(ests[g] - n) <= 0.2 * n, (g, ests[g], n)


def test_hll_register_format_stamp(spark, tmp_path):
    """Round-7 ADVICE (low): the r7 fold widening (31 -> 60 bits)
    changed every persisted register value, so register tables carry a
    format stamp in the ``reg`` column metadata that (a) survives a
    parquet round-trip and (b) makes hll_union refuse an explicit
    mismatch instead of silently max-merging incompatible sketches."""
    import pytest

    from eventkit_spark.llm.sketch import _HLL_BITS, hll_registers, hll_union

    df = spark.createDataFrame([(f"item{i}",) for i in range(2000)], ["k"])
    regs = hll_registers(df, "k", p=9)
    assert regs.schema["reg"].metadata == {"hll_fold_bits": _HLL_BITS, "hll_p": 9}

    path = str(tmp_path / "regs")
    regs.write.parquet(path)
    back = spark.read.parquet(path)
    assert back.schema["reg"].metadata["hll_fold_bits"] == _HLL_BITS

    # same-format merge works and propagates the stamp
    u = hll_union(back, regs)
    assert u.schema["reg"].metadata["hll_fold_bits"] == _HLL_BITS

    # a table stamped with the legacy fold refuses to merge
    legacy = regs.withColumn(
        "reg", F.col("reg").alias("reg", metadata={"hll_fold_bits": 31, "hll_p": 9})
    )
    with pytest.raises(ValueError, match="fold"):
        hll_union(regs, legacy)
    # mismatched p likewise
    p10 = regs.withColumn(
        "reg", F.col("reg").alias("reg", metadata={"hll_fold_bits": _HLL_BITS, "hll_p": 10})
    )
    with pytest.raises(ValueError, match="hll_p"):
        hll_union(regs, p10)
    # unstamped (pre-stamp provenance unknown) is accepted as-is
    bare = spark.createDataFrame(regs.collect(), "bucket int, reg int")
    assert hll_union(regs, bare).count() > 0


def test_hll_estimator_billion_scale(spark):
    """The 60-bit fold removes the old 31-bit range cap: at a simulated
    TRUE cardinality of 2e9 (just liftable with the 31-bit fold, whose
    hash range it equals) the estimator must land within 3 sigma of
    1.04/sqrt(m). Registers are synthesized analytically — bucket j
    gets n_j ~ Multinomial(N, 1/m) items and its register is a draw
    from the exact max-of-n-geometrics CDF P(max<=r) = (1-2^-r)^n — so
    the test exercises hll_estimate's math (raw branch, no linear
    counting, no saturation at reg cap 48 for p=12) at a scale no test
    could hash row-by-row."""
    import numpy as np

    from eventkit_spark.llm.sketch import hll_estimate

    rng = np.random.default_rng(7)
    N, p = 2_000_000_000, 12
    m = 1 << p
    counts = rng.multinomial(N, [1.0 / m] * m)
    regs = []
    for j, n in enumerate(counts):
        u = rng.random()
        r = 1
        # smallest r with (1-2^-r)^n >= u; n*log1p(-2^-r) is exact here
        while n * np.log1p(-(2.0 ** -r)) < np.log(u) and r < 48:
            r += 1
        regs.append((j, r))
    assert max(r for _, r in regs) < 48  # far from the p=12 reg cap
    rdf = spark.createDataFrame(regs, "bucket int, reg int")
    est = hll_estimate(rdf, p=p).first()
    sigma = 1.04 / (m ** 0.5)
    assert abs(est["est"] - N) <= 3 * sigma * N, (est["est"], N)
    assert est["v_zero"] == 0  # raw branch, not linear counting

    # and the fold is genuinely 60-bit: max over 1000 items must clear
    # 2^55 (P(miss) = 2^-5000), far beyond the old 31-bit range
    from eventkit_spark.llm.sketch import _fold60

    items = spark.createDataFrame([(f"i{i}",) for i in range(1000)], ["k"])
    hmax = items.select(F.max(_fold60(F.col("k"))).alias("h")).first()["h"]
    assert hmax > 1 << 55


def test_heavy_hitters_exact_vs_groupby(spark):
    """The MG sketch + recount pipeline must EQUAL the exact
    `count*k > n` set — on a Zipf-ish stream AND on an adversarial
    near-uniform stream where MG decrements churn the counter table.
    Candidate-set size (pre-recount) must respect the #partitions*(k-1)
    bound that makes the shuffle scale-safe."""
    from eventkit_spark.llm.sketch import heavy_hitters

    rows = []
    for i in range(2000):
        rows.append((f"hot{i % 3}",))          # 3 heavy items
    for i in range(3000):
        rows.append((f"tail{i % 997}",))       # near-uniform long tail
    df = spark.createDataFrame(rows, ["item"]).repartition(7)
    for k in (4, 50):
        got = {(r["item"], r["cnt"]) for r in heavy_hitters(df, "item", k=k).collect()}
        exact = {
            (r["item"], r["cnt"])
            for r in df.groupBy("item").agg(F.count("*").alias("cnt"))
            .filter(F.col("cnt") * k > df.count())
            .collect()
        }
        assert got == exact
        assert len(got) > 0 or k == 4  # k=50 must surface the hot items
    # k=4: only items with count > 5000/4 qualify -> none (hot0 has ~667)
    # k=50: threshold 100 -> exactly the 3 hot items
    got50 = {r["item"] for r in heavy_hitters(df, "item", k=50).collect()}
    assert got50 == {"hot0", "hot1", "hot2"}


def test_heavy_hitters_weighted_batch_kernel_model(spark):
    """The batched-decrement MG kernel must match a textbook 1-by-1
    Misra-Gries on the same partition content (superset property is
    engine-independent; this pins the kernel's weighted shortcut)."""
    import pandas as pd

    from eventkit_spark.llm.sketch import _mg_kernel

    vals = [f"v{i % 13}" for i in range(400)] + ["big"] * 150
    k = 7
    # kernel output (single partition, two arrow batches)
    out = list(
        _mg_kernel(k, "item")(
            iter([pd.DataFrame({"item": vals[:300]}), pd.DataFrame({"item": vals[300:]})])
        )
    )[0]
    survivors = set(out["item"])
    # textbook MG: any item with count > n/k must survive
    n = len(vals)
    from collections import Counter

    for item, cnt in Counter(vals).items():
        if cnt * k > n:
            assert item in survivors, f"{item} ({cnt} > {n}/{k}) dropped"
    assert len(survivors) <= k - 1
    assert out["n_part"].iloc[0] == n


def test_weighted_sample_deterministic_and_biased(spark):
    """A-ES draw: (a) identical across runs and across partitionings,
    (b) heavier rows oversampled (statistical sanity: mean weight of
    the sample exceeds the population mean), (c) global draw plans as
    TakeOrderedAndProject (no global sort, no single-task window)."""
    from eventkit_spark.llm.sampling import weighted_sample

    rows = [(i, 1 + (i % 10) * 10) for i in range(5000)]
    df = spark.createDataFrame(rows, ["id", "w"])
    a = {r["id"] for r in weighted_sample(df, 400, "w", "id").collect()}
    b = {r["id"] for r in weighted_sample(df.repartition(13), 400, "w", "id").collect()}
    assert a == b and len(a) == 400
    pop_mean = sum(w for _, w in rows) / len(rows)
    samp_mean = sum(1 + (i % 10) * 10 for i in a) / len(a)
    assert samp_mean > pop_mean * 1.2  # strongly length-biased
    ws = weighted_sample(df, 400, "w", "id")
    assert node_counts(ws)["TakeOrderedAndProjectExec"]
    assert not shuffles(ws)["SinglePartition"]


def test_weighted_sample_grouped_matches_global_per_group(spark):
    """Per-group draw == running the global draw inside each group
    (the window path and the TakeOrdered path share one scoring
    definition)."""
    from eventkit_spark.llm.sampling import weighted_sample

    rows = [(i, 1 + i % 7, "g%d" % (i % 3)) for i in range(900)]
    df = spark.createDataFrame(rows, ["id", "w", "g"])
    grouped = weighted_sample(df, 50, "w", "id", group_col="g")
    for g in ("g0", "g1", "g2"):
        sub = weighted_sample(df.filter(F.col("g") == g), 50, "w", "id")
        assert {r["id"] for r in grouped.filter(F.col("g") == g).collect()} == {
            r["id"] for r in sub.collect()
        }


def test_phrase_search_overlaps_and_repeats(spark):
    """Overlapping matches of a repeated-word phrase all count ('a a'
    occurs twice in 'a a a'); multi-doc counts and absent phrases are
    exact."""
    from eventkit_spark.llm.text import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "a a a"),             # 'a a' twice (overlapping)
            (2, "x a a y a a"),       # twice, non-adjacent
            (3, "a b a"),             # never consecutively
            (4, "b b"),               # phrase words absent entirely
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["n_matches"] for r in phrase_search(docs, "a a").collect()}
    assert got == {1: 2, 2: 2}

    got3 = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_search(docs, "x a a").collect()
    }
    assert got3 == {2: 1}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-empty"):
        phrase_search(docs, "   ")


def test_sorted_neighborhood_matches_naive_rank_join(spark):
    """The two-phase distributed rank must reproduce the naive global
    row_number blocking exactly — string keys (ASCII), ties on key
    broken by id, window edges inclusive."""
    from eventkit_spark.llm.dedup import sorted_neighborhood_pairs

    rows = [
        (1, "apple pie"), (2, "apple tart"), (3, "banana"), (4, "apple pie"),
        (5, "cherry"), (6, "banana split"), (7, "apfel"), (8, "date"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    from pyspark.sql import functions as F

    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in sorted_neighborhood_pairs(
            docs, F.col("text"), window=2, partitions=3
        ).collect()
    }
    order = [i for i, _ in sorted(rows, key=lambda x: (x[1], x[0]))]
    want = {}
    for i, a in enumerate(order):
        for d in (1, 2):
            if i + d < len(order):
                want[(a, order[i + d])] = d
    assert got == want

    import pytest as _pytest

    with _pytest.raises(ValueError, match="window"):
        sorted_neighborhood_pairs(docs, F.col("text"), window=0)


def test_corpus_diff_statuses(spark):
    from eventkit_spark.llm.dedup import corpus_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B2"), (4, "d")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_bm25_search_ranks_by_relevance(spark):
    """A doc stuffed with the query terms must outrank a doc with one
    mention; docs without any query term never appear."""
    from eventkit_spark.llm.sampling import bm25_search

    docs = spark.createDataFrame(
        [
            (1, "spark join spark join spark"),
            (2, "spark and other words here totally unrelated"),
            (3, "nothing relevant at all"),
            (4, "join join"),
        ],
        ["doc_id", "text"],
    )
    rows = bm25_search(docs, "spark join", k=10).collect()
    ids = [r["doc_id"] for r in rows]
    assert 3 not in ids
    assert ids[0] == 1 and rows[0]["rank"] == 1
    assert rows[0]["n_terms_matched"] == 2
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))

    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-empty"):
        bm25_search(docs, "  ")


def test_winsorize_clamps_to_group_cuts(spark):
    """Values clamp to per-group [p_lo, p_hi]; interior values pass
    through; groups are independent; bad bounds raise."""
    from eventkit_spark.llm.sampling import winsorize

    rows = [("a", float(v)) for v in range(1, 11)] + [("b", 1000.0), ("b", 2000.0)]
    df = spark.createDataFrame(rows, ["g", "value"])
    out = winsorize(df, "value", by="g", lo=0.1, hi=0.9)
    got = {(r["g"], r["value"]): r["value_w"] for r in out.collect()}
    # group a: p10 = 1.9, p90 = 9.1 (linear interpolation over 1..10)
    assert got[("a", 1.0)] == 1.9 and got[("a", 10.0)] == 9.1
    assert got[("a", 5.0)] == 5.0
    # group b's cuts come from b only
    assert got[("b", 1000.0)] == 1100.0 and got[("b", 2000.0)] == 1900.0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="lo"):
        winsorize(df, "value", by="g", lo=0.9, hi=0.1)


def test_quantile_bins_matches_window_ntile_semantics(spark):
    """Buckets are equal-frequency with <= edges: a 1..8 stream at k=4
    lands exactly two per bucket; group independence; k<2 raises."""
    from eventkit_spark.llm.sampling import quantile_bins

    rows = [("a", float(v)) for v in range(1, 9)] + [("b", 100.0), ("b", 200.0)]
    df = spark.createDataFrame(rows, ["g", "value"])
    out = quantile_bins(df, "value", k=4, by="g")
    got = {(r["g"], r["value"]): r["value_bin"] for r in out.collect()}
    assert [got[("a", float(v))] for v in range(1, 9)] == [0, 0, 1, 1, 2, 2, 3, 3]
    assert got[("b", 100.0)] == 0 and got[("b", 200.0)] == 3

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k >= 2"):
        quantile_bins(df, "value", k=1)


def test_cross_corpus_near_dups_catches_rephrasings(spark):
    """A lightly-edited heldout twin is caught while unrelated docs are
    not; the hot-shingle prune keeps boilerplate from pairing."""
    from eventkit_spark.llm.dedup import cross_corpus_near_dups

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely different content about spark execution plans"),
            (3, "shared boiler plate intro shared boiler plate intro"),
        ],
        ["doc_id", "text"],
    )
    heldout = spark.createDataFrame(
        [
            # doc 1 with one word appended — exact window overlap drops,
            # set overlap survives
            (100, "the quick brown fox jumps over the lazy dog tonight ok"),
            (101, "unrelated benchmark question text here entirely"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["doc_id"], r["match_id"]): r["jaccard"]
        for r in cross_corpus_near_dups(corpus, heldout, k=3, threshold=0.5).collect()
    }
    assert set(got) == {(1, 100)}
    assert got[(1, 100)] > 0.7


def test_cross_corpus_near_dups_shuffle_path_equals_broadcast(spark):
    """broadcast_heldout=False (the corpus-vs-corpus escape hatch)
    returns the identical pair set through the shuffle join."""
    from eventkit_spark.llm.dedup import cross_corpus_near_dups
    from eventkit_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = docs.filter("doc_id % 2 = 0").select("doc_id", "text")
    b = docs.filter("doc_id % 2 = 1").select("doc_id", "text")
    bc = {(r["doc_id"], r["match_id"], r["jaccard"])
          for r in cross_corpus_near_dups(a, b, threshold=0.3).collect()}
    sh = {(r["doc_id"], r["match_id"], r["jaccard"])
          for r in cross_corpus_near_dups(a, b, threshold=0.3,
                                          broadcast_heldout=False).collect()}
    assert bc == sh and len(bc) > 0


def test_winsorize_and_bins_keep_null_group_rows(spark):
    """Rows whose group key is NULL must survive the cuts join (the
    groupBy emits a NULL-key cuts row but a plain equi-join would drop
    them — verified row loss before the eqNullSafe fix) and clamp/bin
    against the NULL group's own cuts."""
    from eventkit_spark.llm.sampling import quantile_bins, winsorize

    rows = [("a", 1.0), ("a", 2.0), (None, 10.0), (None, 20.0), (None, 30.0)]
    df = spark.createDataFrame(rows, ["g", "value"])
    w = winsorize(df, "value", by="g", lo=0.0, hi=0.5)
    assert w.count() == 5
    got = {(r["g"], r["value"]): r["value_w"] for r in w.collect()}
    # NULL group's median is 20 -> 30 clamps to 20, using ONLY null-group rows
    assert got[(None, 30.0)] == 20.0 and got[(None, 10.0)] == 10.0
    b = quantile_bins(df, "value", k=2, by="g")
    assert b.count() == 5
    gb = {(r["g"], r["value"]): r["value_bin"] for r in b.collect()}
    assert gb[(None, 10.0)] == 0 and gb[(None, 30.0)] == 1


def test_sorted_neighborhood_keeps_null_numeric_keys(spark):
    """NULL numeric blocking keys sort first (NULLS FIRST, surrogate
    pinned to -inf) instead of silently dropping out of the bucket
    join and shrinking the candidate space."""
    from eventkit_spark.llm.dedup import sorted_neighborhood_pairs

    rows = [(1, None), (2, 5.0), (3, 6.0), (4, None)]
    docs = spark.createDataFrame(rows, ["doc_id", "k"])
    pairs = sorted_neighborhood_pairs(docs, "k", window=1, partitions=2)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # rank order: NULLs first by id (1, 4), then 5.0 (2), then 6.0 (3);
    # id_a is the lower-RANK row, so the null/5.0 neighbor pair is (4, 2)
    assert got == {(1, 4), (4, 2), (2, 3)}


def test_ivf_index_roundtrip_matches_ivf_topk(spark, tmp_path):
    """The persisted-index query path returns row-for-row what the
    in-memory ivf_topk computes on the same seeds and parameters."""
    from pyspark.sql import functions as F

    from eventkit_spark.llm.similarity import (
        ivf_index_topk, ivf_index_write, ivf_topk,
    )
    from eventkit_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "idx")
    ivf_index_write(emb, path, n_cells=4, centroids="portable")
    a = sorted(
        (r["query_id"], r["neighbor_id"], round(r["cos"], 9), r["rank"])
        for r in ivf_index_topk(spark, path, q, k=3, nprobe=2).collect()
    )
    b = sorted(
        (r["query_id"], r["neighbor_id"], round(r["cos"], 9), r["rank"])
        for r in ivf_topk(emb, q, k=3, n_cells=4, nprobe=2, centroids="portable").collect()
    )
    assert a == b and len(a) > 0


def test_ivf_index_append_equals_rebuild_at_same_centroids(spark, tmp_path):
    """Appending a new vector slice to a persisted IVF index (frozen
    centroids, no refit, no read of the existing cells) must answer
    queries exactly like an index REBUILT over the union — the
    assignment kernel and centroid table are shared, so the only
    difference is which files hold each cell's rows."""
    from pyspark.sql import functions as F

    from eventkit_spark.llm.similarity import (
        ivf_index_append, ivf_index_topk, ivf_index_write,
    )
    from eventkit_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    q = emb.filter(F.col("vec_id") < 5)

    inc = str(tmp_path / "inc")
    ivf_index_write(old, inc, n_cells=4, centroids="portable")
    ivf_index_append(new, inc)

    # rebuild over the union AT THE INCREMENTAL INDEX'S centroids: copy
    # the frozen centroid table so only the cells differ
    full = str(tmp_path / "full")
    spark.read.parquet(f"{inc}/centroids").coalesce(1).write.parquet(
        f"{full}/centroids"
    )
    import numpy as np

    from eventkit_spark.llm.similarity import _as_double, _cell_assign_kernel

    cent_rows = spark.read.parquet(f"{inc}/centroids").orderBy("cell").collect()
    cent_mat = np.stack([np.array(r["cv"]) for r in cent_rows])
    emb.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("cv"),
    ).withColumn(
        "cell", F.element_at(_cell_assign_kernel(cent_mat, 1)(F.col("cv")), 1)
    ).write.partitionBy("cell").parquet(f"{full}/cells")

    a = sorted(
        (r["query_id"], r["neighbor_id"], round(r["cos"], 9), r["rank"])
        for r in ivf_index_topk(spark, inc, q, k=3, nprobe=2).collect()
    )
    b = sorted(
        (r["query_id"], r["neighbor_id"], round(r["cos"], 9), r["rank"])
        for r in ivf_index_topk(spark, full, q, k=3, nprobe=2).collect()
    )
    assert a == b and len(a) > 0


def test_incremental_dedup_store_lifecycle(spark, tmp_path):
    """The fingerprint store carries state ACROSS batches: wave 2's
    duplicates of wave-1 texts are rejected, new texts are accepted and
    committed, and a third wave repeating wave-2 texts is fully
    rejected. The returned frame is a stable snapshot (re-collect after
    the commit does not change)."""
    from eventkit_spark.llm.dedup import (
        exact_dedup_incremental, exact_dedup_store_init,
    )

    path = str(tmp_path / "store")
    w1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    exact_dedup_store_init(w1, path)
    w2 = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, "gamma"), (13, "delta")],
        "doc_id long, text string",
    )
    out2 = exact_dedup_incremental(w2, path)
    got = sorted(map(tuple, out2.collect()))
    assert got == [(11, 2), (13, 1)]  # alpha rejected; gamma kept once
    assert sorted(map(tuple, out2.collect())) == got  # stable snapshot
    w3 = spark.createDataFrame(
        [(20, "gamma"), (21, "delta"), (22, "epsilon")],
        "doc_id long, text string",
    )
    out3 = exact_dedup_incremental(w3, path)
    assert sorted(map(tuple, out3.collect())) == [(22, 1)]


def test_minhash_incremental_store_lifecycle(spark, tmp_path):
    """The LSH bucket store carries NEAR-dup state across batches: a
    batch copy of a seed text is dup_store, the larger of two batch
    copies is dup_batch (bucket-min rule), novel texts are kept and
    their buckets committed — so re-running the same batch flips every
    row to dup_store. The returned frame is a stable snapshot."""
    from eventkit_spark.llm.dedup import (
        minhash_dedup_incremental, minhash_store_init,
    )

    path = str(tmp_path / "mhstore")
    seed = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again"),
         (2, "completely different sentence about distributed query engines")],
        "doc_id long, text string",
    )
    minhash_store_init(seed, path, num_hashes=32, bands=8, k=3, portable=True)
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog again and again"),
         (11, "a totally novel document discussing oceanic tide patterns"),
         (12, "a totally novel document discussing oceanic tide patterns"),
         (13, "yet another unrelated passage on alpine meadow wildflowers")],
        "doc_id long, text string",
    )
    out = minhash_dedup_incremental(batch, path)
    got = sorted(map(tuple, out.collect()))
    assert got == [
        (10, "dup_store"), (11, "kept"), (12, "dup_batch"), (13, "kept"),
    ]
    assert sorted(map(tuple, out.collect())) == got  # stable snapshot
    rerun = minhash_dedup_incremental(batch, path)
    assert sorted(map(tuple, rerun.collect())) == [
        (10, "dup_store"), (11, "dup_store"),
        (12, "dup_store"), (13, "dup_store"),
    ]


def test_simhash_incremental_store_lifecycle(spark, tmp_path):
    """The SimHash posting store carries VERIFIED Hamming near-dup
    state across batches: a batch doc within max_hamming of a seed
    fingerprint is dup_store, the larger of two near-identical batch
    docs is dup_batch (greedy min-keeps), novel texts are kept and
    their postings committed — so re-running the same batch flips every
    row to dup_store. Unlike the MinHash store's bucket-occupancy
    candidates, every status here is exact-popcount verified."""
    from eventkit_spark.llm.dedup import (
        simhash_dedup_incremental, simhash_store_init, simhash64,
    )

    path = str(tmp_path / "shstore")
    seed = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again"),
         (2, "completely different sentence about distributed query engines")],
        "doc_id long, text string",
    )
    simhash_store_init(seed, path, max_hamming=3, portable=True)
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog again and again"),
         (11, "a totally novel document discussing oceanic tide patterns"),
         (12, "a totally novel document discussing oceanic tide patterns"),
         (13, "yet another unrelated passage on alpine meadow wildflowers")],
        "doc_id long, text string",
    )
    out = simhash_dedup_incremental(batch, path)
    got = sorted(map(tuple, out.collect()))
    assert got == [
        (10, "dup_store"), (11, "kept"), (12, "dup_batch"), (13, "kept"),
    ]
    rerun = simhash_dedup_incremental(batch, path)
    assert sorted(map(tuple, rerun.collect())) == [
        (10, "dup_store"), (11, "dup_store"),
        (12, "dup_store"), (13, "dup_store"),
    ]
    # the store statuses agree with brute-force Hamming over the union:
    # doc 10's fingerprint must be within 3 of seed 1's, 11/13 within 3
    # of nothing accepted earlier
    fps = {r["id"]: r["simhash"]
           for r in simhash64(seed.union(batch), portable=True).collect()}
    assert bin(fps[10] ^ fps[1]).count("1") <= 3
    assert all(
        bin(fps[11] ^ fps[s]).count("1") > 3 for s in (1, 2)
    )


def test_contamination_store_matches_join_form(spark, tmp_path):
    """The persisted contamination store gives results identical to
    contamination(method='join') against the same suite, across TWO
    separate probe batches with the suite never rescanned (exact verify
    runs against the persisted hash set, absorbing bloom FPs)."""
    from eventkit_spark.llm.dedup import (
        contamination, contamination_store_init, decontaminate_incremental,
    )

    path = str(tmp_path / "cstore")
    suite = spark.createDataFrame(
        [(100, "the held out benchmark question about gravity and light"),
         (101, "another eval prompt concerning ocean currents and tides")],
        "doc_id long, text string",
    )
    contamination_store_init(suite, path, k=5)
    for batch_rows in (
        [(1, "we discuss the held out benchmark question about gravity and light here"),
         (2, "entirely clean training text with no overlap whatsoever present")],
        [(3, "another eval prompt concerning ocean currents and tides verbatim copy"),
         (4, "more clean text that shares nothing with the evaluation suite")],
    ):
        batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
        got = sorted(map(tuple, decontaminate_incremental(batch, path).collect()))
        want = sorted(map(tuple, contamination(batch, suite, k=5).collect()))
        assert got == want and len(got) == 1


def test_ivf_index_stats_reads_partition_column_only(spark, tmp_path):
    """The cell-balance report must not read vector bytes: the scan's
    ReadSchema is empty (partition-column-only), so the drift check is
    file-listing-cheap on an index of any size."""
    from pyspark.sql import functions as F

    from eventkit_spark.llm.similarity import ivf_index_stats, ivf_index_write
    from eventkit_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "idx")
    ivf_index_write(emb, path, n_cells=4, centroids="portable")
    out = ivf_index_stats(spark, path)
    rows = out.collect()
    assert [r["cell"] for r in rows] == [0, 1, 2, 3]
    assert sum(r["n"] for r in rows) == emb.count()
    scans = file_scans(out)
    assert scans and all(s.columns == () for s in scans)


def test_cms_dominates_misra_gries_counts(spark):
    """Sketch-family internal consistency pin (r6): for every
    heavy-hitter the MG-prefiltered exact recount reports, the CMS
    point estimate from the same rows must dominate it — CMS never
    undercounts (est >= true) and heavy_hitters reports exact counts,
    so est >= cnt holds for EVERY item, any (d, w), any data."""
    from pyspark.sql import functions as F

    from eventkit_spark.llm.sketch import (
        count_min_cells, count_min_estimate, heavy_hitters,
    )
    from eventkit_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    hh = heavy_hitters(ev, "event_type", k=8)
    cells = count_min_cells(ev, "event_type", d=3, w=8)
    est = count_min_estimate(cells, hh.select("item"), "item", d=3, w=8)
    joined = hh.join(est, "item").select("item", "cnt", "est").collect()
    assert joined, "no heavy hitters found at k=8"
    for r in joined:
        assert r["est"] >= r["cnt"], (r["item"], r["est"], r["cnt"])


def test_winnow_fingerprints_model_and_guarantee(spark):
    """Winnowing (Schleimer et al. 2003): matches a direct Python model
    case-for-case (rightmost-min tie-break, clipped short-doc window),
    honors the detection guarantee (two docs sharing a substring of
    length >= w+k-1 share a fingerprint), and plans ZERO exchanges —
    documents are independent."""
    from eventkit_spark.llm.text import winnow_fingerprints

    MOD = (1 << 31) - 1

    def model(t, k, w):
        if len(t) < k:
            return set()
        hs = []
        for i in range(len(t) - k + 1):
            h = 0
            for c in t[i:i + k]:
                h = (h * 31 + ord(c)) % MOD
            hs.append(h)
        sel = set()
        for j in range(max(len(hs) - w + 1, 1)):
            win = hs[j:j + w]
            mv = min(win)
            sel.add((j + max(o for o, v in enumerate(win) if v == mv), mv))
        return sel

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox leaps over the lazy dog",
        "abc", "ab", "aaaaaaaaaa", "xyxyxyxyxy", "",
        "héllo wörld é",  # non-ASCII: kernel's utf-32 = Column's ascii()
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    out = winnow_fingerprints(docs, k=3, w=4)
    got = {(r["doc_id"], r["pos"], r["fp"]) for r in out.collect()}
    exp = {(i, p, f) for i, t in enumerate(texts) for (p, f) in model(t, 3, 4)}
    assert got == exp

    # the pure Column-expression form computes the identical rows
    col = winnow_fingerprints(docs, k=3, w=4, impl="column")
    assert {(r["doc_id"], r["pos"], r["fp"]) for r in col.collect()} == exp

    fp0 = {f for d, _, f in got if d == 0}
    fp1 = {f for d, _, f in got if d == 1}
    assert fp0 & fp1, "shared 'over the lazy dog' must share a fingerprint"

    # both engines are exchange-free; the default is ONE Arrow kernel,
    # the Column form stays pure JVM
    rep = plan_report(winnow_fingerprints(docs, k=5, w=4))
    assert rep["exchanges"] == 0 and rep["python_evals"] == 1
    repc = plan_report(winnow_fingerprints(docs, k=5, w=4, impl="column"))
    assert repc["exchanges"] == 0 and repc["python_evals"] == 0


def test_winnow_overlap_detects_shifted_copies(spark):
    """winnow_overlap: a prefix-shifted copy of every doc must pair
    with its original (the winnowing guarantee survives position
    shifts), unrelated pairs stay rare after the df prune, and the
    pair expansion is an fp equi-join — no document cross join."""
    from pyspark.sql import functions as F

    from eventkit_spark.llm.text import winnow_overlap
    from eventkit_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    pert = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("zzz "), F.col("text")).alias("text"),
    )
    out = winnow_overlap(docs, pert, k=10, w=8, min_shared=3, max_df=4)
    rows = out.collect()
    n = docs.count()
    self_pairs = sum(1 for r in rows if r["id_b"] - r["id_a"] == 100000)
    assert self_pairs >= 0.9 * n, (self_pairs, n)
    assert len(rows) <= 1.2 * n, "df prune failed: unrelated pairs dominate"
    assert plan_report(out)["nested_loop_joins"] == 0


def test_bounded_levenshtein_kernel(spark):
    """The banded Arrow kernel == F.levenshtein(a, b, k) row-for-row
    (r8: the builtin's threshold form still walks the full DP per row;
    the kernel advances the Ukkonen band across the whole batch).
    Random mutated pairs + unicode + empties + NULLs (NULL maps to -1,
    equivalent under the callers' dist >= 0 filter), at several k."""
    import random
    import string

    from eventkit_spark.llm.dedup import _bounded_levenshtein_kernel

    random.seed(7)
    alpha = string.ascii_lowercase + "éü漢字 "

    def mutate(s):
        s = list(s)
        for _ in range(random.randint(0, 4)):
            op = random.choice("ids")
            i = random.randrange(max(len(s), 1))
            if op == "i":
                s.insert(i, random.choice("abcé漢x"))
            elif op == "d" and s:
                del s[i % len(s)]
            elif s:
                s[i % len(s)] = random.choice("abcé漢x")
        return "".join(s)

    rows = []
    for i in range(800):
        a = "".join(random.choice(alpha) for _ in range(random.randint(0, 40)))
        b = mutate(a) if i % 2 == 0 else "".join(
            random.choice(alpha) for _ in range(random.randint(0, 40))
        )
        rows.append((a, b))
    rows += [("", ""), ("", "ab"), ("abc", ""), ("same", "same"),
             (None, "x"), ("x", None), (None, None)]
    df = spark.createDataFrame(rows, "a string, b string")
    for k in (0, 1, 2, 5):
        got = df.select(
            _bounded_levenshtein_kernel(k)(F.col("a"), F.col("b")).alias("g"),
            F.levenshtein("a", "b", k).alias("e"),
        ).collect()
        bad = [
            (r["g"], r["e"])
            for r in got
            if (r["g"] if r["g"] is not None else -1)
            != (r["e"] if r["e"] is not None else -1)
        ]
        assert not bad, (k, bad[:5])


def test_edit_near_dups_finds_typo_variants(spark):
    """edit_near_dups: dist-0 exact dups and dist-1/2 typo variants
    surface through the sorted-neighborhood candidates + levenshtein
    verify; far pairs and over-threshold pairs do not; the length-gap
    prune never drops a legitimate pair."""
    from eventkit_spark.llm.dedup import edit_near_dups

    rows = [
        (1, "the quick brown fox"), (2, "the quick brown fax"),
        (3, "the quick brown fox!"), (4, "completely different text"),
        (6, "the quick brown fox"), (7, "the quick brown foxes"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])): r["dist"]
           for r in edit_near_dups(docs, max_dist=2, window=5).collect()}
    assert out[(1, 6)] == 0
    assert out[(1, 2)] == 1 and out[(1, 3)] == 1 and out[(1, 7)] == 2
    assert all(4 not in pair for pair in out)
    assert all(d <= 2 for d in out.values())


def test_keyword_hits(spark):
    """keyword_hits: exact lowercase token matches with counts, both
    the literal-list and DataFrame-taxonomy paths; the keyword dim
    joins BROADCAST and the corpus scans once."""
    from eventkit_spark.llm.text import keyword_hits

    docs = spark.createDataFrame(
        [(1, "the cat and THE dog"), (2, "data model data"), (3, "nothing here")],
        "doc_id int, text string",
    )
    got = {(r["doc_id"], r["keyword"]): r["n_hits"]
           for r in keyword_hits(docs, ["the", "data", "model"]).collect()}
    assert got == {(1, "the"): 2, (2, "data"): 2, (2, "model"): 1}

    kw = spark.createDataFrame([("THE",), ("model",)], ["keyword"])
    got2 = {(r["doc_id"], r["keyword"]): r["n_hits"]
            for r in keyword_hits(docs, kw).collect()}
    assert got2 == {(1, "the"): 2, (2, "model"): 1}

    import pytest

    with pytest.raises(ValueError):
        keyword_hits(docs, [])

    assert node_counts(keyword_hits(docs, ["the"]))["BroadcastHashJoinExec"]


def test_phrase_hits_matches_phrase_search(spark):
    """phrase_hits == phrase_search run per phrase (overlaps, repeated
    words, absent phrases), in one corpus scan with broadcast dims."""
    from eventkit_spark.llm.text import phrase_hits, phrase_search

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the cat sat mat"),
            (2, "again and again and again"),
            (3, "nothing relevant here"),
        ],
        "doc_id int, text string",
    )
    phrases = ["cat sat", "again and again", "the cat sat", "missing phrase"]
    got = {(r["doc_id"], r["phrase"]): r["n_matches"]
           for r in phrase_hits(docs, phrases).collect()}
    exp = {}
    for ph in phrases:
        for r in phrase_search(docs, ph).collect():
            exp[(r["doc_id"], ph)] = r["n_matches"]
    assert got == exp
    # overlapping "again and again" occurs twice (anchors 0 and 2)
    assert got[(2, "again and again")] == 2

    import pytest

    with pytest.raises(ValueError):
        phrase_hits(docs, [])

    assert node_counts(phrase_hits(docs, phrases))["BroadcastHashJoinExec"] >= 2


def test_blocklist_verdicts_parity(spark):
    """blocklist_verdicts (the fused one-scan matcher) == keyword_hits
    + phrase_hits aggregated per doc over the same lists, flagged docs
    only; terms and phrases both ride ONE broadcast dim / ONE corpus
    scan, and a multi-word 'term' is rejected up front."""
    import pytest
    from pyspark.sql import functions as SF

    from eventkit_spark.llm.text import (
        blocklist_verdicts, keyword_hits, phrase_hits,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the cat sat mat"),
            (2, "again and again and again data"),
            (3, "nothing relevant here"),
            (4, None),
            (5, "data model data cat sat"),
        ],
        "doc_id int, text string",
    )
    terms = ["data", "model", "mat"]
    phrases = ["cat sat", "again and again", "missing phrase"]
    got = {r["doc_id"]: (r["term_hits"], r["phrase_hits"])
           for r in blocklist_verdicts(docs, terms, phrases).collect()}

    kh = {r["doc_id"]: r["th"] for r in
          keyword_hits(docs, terms).groupBy("doc_id")
          .agg(SF.sum("n_hits").alias("th")).collect()}
    ph = {r["doc_id"]: r["ph"] for r in
          phrase_hits(docs, phrases).groupBy("doc_id")
          .agg(SF.sum("n_matches").alias("ph")).collect()}
    exp = {d: (kh.get(d, 0), ph.get(d, 0)) for d in set(kh) | set(ph)}
    assert got == exp and got
    assert got[2] == (1, 2)  # overlapping phrase counts twice
    assert 3 not in got and 4 not in got  # clean/null docs absent

    with pytest.raises(ValueError):
        blocklist_verdicts(docs, [], [])
    with pytest.raises(ValueError):
        blocklist_verdicts(docs, ["two words"], [])

    bv = blocklist_verdicts(docs, terms, phrases)
    assert node_counts(bv)["BroadcastHashJoinExec"] == 2  # dim + lens, never corpus


def test_pipeline_moderation_plan_and_values(spark):
    """The pipeline_moderation contract: kilobyte report, every verdict
    category non-vacuous at sf0.001, and the plan reads the corpus TEXT
    in exactly two FileScans (blocklist branch + dup-histogram branch);
    the corpus-total branch prunes text away entirely."""
    import __spark_entry__ as e

    out = e.queries()["pipeline_moderation"](spark, "/root/testdata/sf0.001")
    scans = [s.columns for s in file_scans(out)]
    assert sum("text" in c for c in scans) == 2, scans
    rows = {r["verdict"]: r for r in out.collect()}
    assert set(rows) == {
        "corpus", "blocked_term", "blocked_phrase", "blocked_both",
        "dup_extra",
    }
    assert rows["corpus"]["n_docs"] == 500
    assert rows["dup_extra"]["n_docs"] > 0  # synthesized boilerplate dups
    assert rows["blocked_both"]["term_hits"] > 0
    assert rows["blocked_both"]["phrase_hits"] > 0
    flagged = sum(
        rows[v]["n_docs"]
        for v in ("blocked_term", "blocked_phrase", "blocked_both")
    )
    assert 0 < flagged < rows["corpus"]["n_docs"]


def test_normalize_text(spark):
    """normalize_text: NFC composes decomposed accents, NFKC folds
    compatibility forms, whitespace collapses, NULLs survive, and the
    plan is a pure scan + one Arrow kernel (no exchange)."""
    from eventkit_spark.llm.text import normalize_text

    docs = spark.createDataFrame(
        [
            (1, "café  du\t\n monde "),
            (2, "ﬁne Ａwide"),   # ﬁ ligature + fullwidth A
            (3, None),
        ],
        "doc_id int, text string",
    )
    nfc = {r["doc_id"]: r["text"] for r in normalize_text(docs).collect()}
    assert nfc[1] == "café du monde"
    assert nfc[2] == "ﬁne Ａwide"  # NFC keeps compatibility chars
    assert nfc[3] is None

    nfkc = {r["doc_id"]: r["text"]
            for r in normalize_text(docs, form="NFKC").collect()}
    assert nfkc[2] == "fine Awide"

    raw = {r["doc_id"]: r["text"]
           for r in normalize_text(docs, collapse_ws=False).collect()}
    assert raw[1] == "caf\u00e9  du\t\n monde "

    import pytest

    with pytest.raises(ValueError):
        normalize_text(docs, form="NFX")

    assert plan_report(normalize_text(docs))["exchanges"] == 0


def test_dedup_report(spark):
    """dedup_report: per-size histogram with keep-one-per-cluster
    removal counts, from any (id, cluster_id) labeling."""
    from eventkit_spark.llm.dedup import dedup_report

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)],
        "doc_id int, cluster_id int",
    )
    got = {r["cluster_size"]: (r["n_clusters"], r["n_docs"], r["n_removed"])
           for r in dedup_report(labels).collect()}
    assert got == {3: (1, 3, 2), 1: (1, 1, 0), 2: (1, 2, 1)}


def test_stupid_backoff_model(spark):
    # trigram stupid backoff vs a pure-Python model: all three branches
    # (trigram hit, bigram backoff, OOV unigram floor) must fire
    import collections
    import math

    from eventkit_spark.llm.text import stupid_backoff_logprob

    ref_texts = ["the cat sat on the mat", "the dog sat on the log", "a cat and a dog"]
    doc_texts = ["the cat sat on the log", "zebra quantum flux", "the cat", "cat and the mat"]
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ref_texts)], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(doc_texts)], "doc_id long, text string"
    )

    u, b, t = collections.Counter(), collections.Counter(), collections.Counter()
    for s in ref_texts:
        w = s.split()
        u.update(w)
        b.update(zip(w, w[1:]))
        t.update(zip(w, w[1:], w[2:]))
    N = sum(u.values())
    want = {}
    for i, s in enumerate(doc_texts):
        w = s.split()
        tris = list(zip(w, w[1:], w[2:]))
        if not tris:
            continue
        tot, bo = 0.0, 0
        for tg in tris:
            if t[tg] > 0:
                sc = t[tg] / b[(tg[0], tg[1])]
            elif b[(tg[1], tg[2])] > 0:
                sc = 0.4 * b[(tg[1], tg[2])] / u[tg[1]]
                bo += 1
            else:
                sc = 0.4 * 0.4 * max(u[tg[2]], 0.5) / N
                bo += 1
            tot += math.log(sc)
        want[i] = (len(tris), round(tot / len(tris), 6), bo * 1000000 // len(tris))
    got = {
        r["doc_id"]: (r["n_trigrams"], r["avg_logprob"], r["bo_ppm"])
        for r in stupid_backoff_logprob(docs, ref).collect()
    }
    assert got == want
    assert any(v[2] > 0 for v in got.values())  # backoff branch exercised
    # docs with < 3 tokens are absent
    assert 2 not in got
    # self-scoring: every trigram is its own evidence — zero backoff
    self_got = stupid_backoff_logprob(ref).collect()
    assert all(r["bo_ppm"] == 0 for r in self_got)


def test_token_quota_model_and_salted_equality(spark):
    # strict-prefix token budget vs a Python model; the salted
    # (range-partitioned two-pass) form must equal the unsalted window
    import random

    from eventkit_spark.llm.sampling import token_quota

    random.seed(7)
    rows = [
        (i, f"src{i % 3}", " ".join(["w"] * random.randint(0, 12)) if i % 11 else "")
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    budgets = {"src0": 50, "src1": 30, "*": 100}

    KNUTH = 2654435761

    def h(k):
        return (k % 2**31) * KNUTH % 2**31 % 1_000_000

    want = set()
    for s in {"src0", "src1", "src2"}:
        bud = budgets.get(s, budgets["*"])
        cum = 0
        for did, _, txt in sorted(
            (r for r in rows if r[1] == s), key=lambda r: (h(r[0]), r[0])
        ):
            cum += len(txt.split()) if txt.strip() else 0
            if cum <= bud:
                want.add(did)
    got = {r["doc_id"] for r in token_quota(df, budgets, "doc_id").collect()}
    assert got == want
    for n in (1, 3, 17):
        salted = {
            r["doc_id"] for r in token_quota(df, budgets, "doc_id", salt=n).collect()
        }
        assert salted == want, f"salt={n} diverged"
    # a doc that overflows is dropped and NOT backfilled: global int
    # budget smaller than any source's total keeps a strict prefix
    small = {r["doc_id"] for r in token_quota(df, 10, "doc_id").collect()}
    assert small < want or small == set()


def test_ngram_lm_store_roundtrip(spark, tmp_path):
    # the persisted LM must score EXACTLY like the in-memory form, and
    # alpha stays a scoring-time knob (one store, any backoff penalty)
    from eventkit_spark.llm.text import (
        ngram_lm_store_init,
        stupid_backoff_logprob,
        stupid_backoff_with_store,
    )

    ref_texts = ["the cat sat on the mat", "the dog sat on the log", "a cat and a dog"]
    doc_texts = ["the cat sat on the log", "zebra quantum flux", "cat and the mat"]
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ref_texts)], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(doc_texts)], "doc_id long, text string"
    )
    path = str(tmp_path / "nglm")
    ngram_lm_store_init(ref, path)
    for alpha in (0.4, 0.1):
        mem = {
            r["doc_id"]: (r["n_trigrams"], r["avg_logprob"], r["bo_ppm"])
            for r in stupid_backoff_logprob(docs, ref, alpha=alpha).collect()
        }
        sto = {
            r["doc_id"]: (r["n_trigrams"], r["avg_logprob"], r["bo_ppm"])
            for r in stupid_backoff_with_store(docs, path, alpha=alpha).collect()
        }
        assert mem == sto and mem


def test_token_quota_null_source_salted_parity(spark):
    # NULL source is a legitimate window partition; the salted carry
    # join must be null-safe (r9 review: an inner equi-join dropped
    # every NULL-source row)
    from eventkit_spark.llm.sampling import token_quota

    df = spark.createDataFrame(
        [(1, None, "w w"), (2, None, "w"), (3, "s", "w w w")],
        "doc_id long, source string, text string",
    )
    plain = {r["doc_id"] for r in token_quota(df, 100, "doc_id").collect()}
    salted = {r["doc_id"] for r in token_quota(df, 100, "doc_id", salt=4).collect()}
    assert plain == salted == {1, 2, 3}


def test_token_quota_null_key_salted_parity_and_salt_guard(spark):
    # r10 (r9 ADVICE): a NULL key hashes to a NULL bucket — the salted
    # carry join must keep such rows exactly like the unsalted window
    # path does; and salt<1 is a loud ValueError, not ZeroDivisionError
    import pytest as _pytest

    from eventkit_spark.llm.sampling import token_quota

    df = spark.createDataFrame(
        [(None, "s", "w w"), (2, "s", "w"), (3, "s", "w w w w w w w w w")],
        "doc_id long, source string, text string",
    )
    # NULL hash sorts first (2 tokens <= 5); doc 3 hashes before doc 2,
    # and the STRICT-PREFIX rule counts its 9 dropped tokens, so doc 2
    # is cut too — the point is the NULL-key row survives BOTH paths
    plain = {r["doc_id"] for r in token_quota(df, 5, "doc_id").collect()}
    salted = {r["doc_id"] for r in token_quota(df, 5, "doc_id", salt=4).collect()}
    assert plain == salted == {None}
    for bad in (0, -3):
        with _pytest.raises(ValueError, match="salt"):
            token_quota(df, 5, "doc_id", salt=bad)


def test_token_quota_negative_keys_salted_parity(spark):
    # r10 review: Spark's % follows the dividend's sign, so negative
    # keys produce negative hash buckets — the NULL sentinel must sort
    # strictly below them (-1 collided with the first negative bucket)
    from eventkit_spark.llm.sampling import token_quota

    rows = [(k, "s", "w " * (abs(k) % 7 + 1)) for k in range(-40, 40) if k]
    rows.append((None, "s", "w w"))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    for budget in (10, 60, 200):
        plain = {r["doc_id"] for r in token_quota(df, budget, "doc_id").collect()}
        for salt in (2, 5, 13):
            salted = {
                r["doc_id"]
                for r in token_quota(df, budget, "doc_id", salt=salt).collect()
            }
            assert plain == salted, (budget, salt)


def test_ngram_lm_store_append_equals_union_fit(spark, tmp_path):
    # counts are mergeable: init(A) + append(B) must score exactly like
    # a from-scratch fit on A union B
    from eventkit_spark.llm.text import (
        ngram_lm_store_append,
        ngram_lm_store_init,
        stupid_backoff_logprob,
        stupid_backoff_with_store,
    )

    a_texts = ["the cat sat on the mat", "a cat and a dog"]
    b_texts = ["the dog sat on the log", "the cat sat on the log"]
    doc_texts = ["the cat sat on the log", "zebra quantum flux"]
    A = spark.createDataFrame(
        [(i, t) for i, t in enumerate(a_texts)], "doc_id long, text string"
    )
    B = spark.createDataFrame(
        [(10 + i, t) for i, t in enumerate(b_texts)], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(doc_texts)], "doc_id long, text string"
    )
    path = str(tmp_path / "nglm2")
    ngram_lm_store_init(A, path)
    ngram_lm_store_append(B, path)
    grown = {
        r["doc_id"]: (r["n_trigrams"], r["avg_logprob"], r["bo_ppm"])
        for r in stupid_backoff_with_store(docs, path).collect()
    }
    union_fit = {
        r["doc_id"]: (r["n_trigrams"], r["avg_logprob"], r["bo_ppm"])
        for r in stupid_backoff_logprob(docs, A.unionByName(B)).collect()
    }
    assert grown == union_fit and grown


def _ppm_bytes(arr):
    import numpy as np

    h, w, _ = arr.shape
    return b"P6\n# test\n%d %d\n255\n" % (w, h) + np.asarray(arr, dtype=np.uint8).tobytes()


def _bmp_bytes(arr):
    import struct

    import numpy as np

    h, w, _ = arr.shape
    stride = ((w * 3 + 3) // 4) * 4
    rows = bytearray()
    for r in range(h - 1, -1, -1):  # bottom-up
        line = np.asarray(arr[r], dtype=np.uint8)[:, ::-1].tobytes()  # RGB->BGR
        rows += line + b"\x00" * (stride - len(line))
    data_off = 14 + 40
    size = data_off + len(rows)
    head = struct.pack("<2sIHHI", b"BM", size, 0, 0, data_off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 2835, 2835, 0, 0)
    return head + dib + bytes(rows)


def _wav_bytes(samples, rate=8000, channels=1):
    import struct

    import numpy as np

    pcm = (np.asarray(samples, dtype=np.float64) * 32767).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def test_real_uncompressed_decoders(spark):
    """r9: WAV/PPM/BMP decode NATIVELY (pure byte arithmetic — no PIL
    needed); the same mapInPandas feature extractors run on real bytes
    end-to-end, and compressed formats fail with a clear message."""
    import numpy as np
    import pytest as _pytest

    from eventkit_spark.llm.multimodal import (
        audio_features,
        decode_image_real,
        decode_wav_real,
        image_features,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)
    # kernel-level roundtrips are exact
    assert (decode_image_real(_ppm_bytes(img)) == img).all()
    assert (decode_image_real(_bmp_bytes(img)) == img).all()
    samples = np.sin(np.linspace(0, 20, 160))
    rate, mono = decode_wav_real(_wav_bytes(samples, rate=8000))
    assert rate == 8000 and mono.size == 160
    pcm = (samples * 32767).astype(np.int16)  # same truncation as the writer
    assert np.abs(mono - pcm / 32768.0).max() < 1e-12
    # stereo averages to mono
    stereo = np.stack([samples, -samples], axis=1).ravel()
    _, m2 = decode_wav_real(_wav_bytes(stereo, rate=8000, channels=2))
    assert np.abs(m2).max() < 1e-4

    # distributed path: real bytes through the same extractors
    rows = [
        (1, bytearray(_ppm_bytes(img)), ("image/ppm", 3, 5, len(_ppm_bytes(img)))),
        (2, bytearray(_bmp_bytes(img)), ("image/bmp", 3, 5, len(_bmp_bytes(img)))),
        (3, bytearray(_wav_bytes(samples)), ("audio/wav", 0, 0, len(_wav_bytes(samples)))),
    ]
    media = spark.createDataFrame(
        rows,
        "asset_id long, payload binary, "
        "meta struct<media_type string, width int, height int, n_bytes int>",
    )
    got_ppm = image_features(media, decoder=decode_image_real, media_type="image/ppm").first()
    got_bmp = image_features(media, decoder=decode_image_real, media_type="image/bmp").first()
    n = img.shape[0] * img.shape[1]
    assert got_ppm["mean_r"] == int(img[:, :, 0].sum()) / n
    assert got_bmp["mean_g"] == int(img[:, :, 1].sum()) / n
    assert got_ppm["std_luma"] == got_bmp["std_luma"]  # same pixels
    got_wav = audio_features(media, decoder=decode_wav_real).first()
    assert got_wav["n_samples"] == 160
    assert abs(got_wav["duration_s"] - 160 / 8000) < 1e-12
    assert 0.0 < got_wav["rms"] < 1.0 and got_wav["peak"] <= 1.0

    # compressed formats name the missing codec instead of mis-decoding
    with _pytest.raises(NotImplementedError):
        decode_image_real(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16)
    wav = _wav_bytes(samples)
    with _pytest.raises(NotImplementedError):
        # audio_format lives at byte 20 (RIFF 12 + 'fmt ' id/size 8)
        decode_wav_real(wav[:20] + b"\x55\x00" + wav[22:])


def _wav_float_bytes(samples, rate=8000, channels=1, bits=32):
    import struct

    import numpy as np

    dt = "<f4" if bits == 32 else "<f8"
    pcm = np.asarray(samples, dtype=np.float64).astype(dt).tobytes()
    bs = channels * bits // 8
    fmt = struct.pack("<HHIIHH", 3, channels, rate, rate * bs, bs, bits)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def test_wav_ieee_float_decodes():
    # r10 (r9 ADVICE): format 3 is UNCOMPRESSED IEEE-float PCM — decode
    # it with the same byte arithmetic instead of calling it compressed
    import numpy as np

    from eventkit_spark.llm.multimodal import decode_wav_real

    samples = np.sin(np.linspace(0, 20, 160))
    rate, mono = decode_wav_real(_wav_float_bytes(samples, bits=32))
    assert rate == 8000 and mono.size == 160
    assert np.abs(mono - samples.astype(np.float32)).max() < 1e-7
    _, m64 = decode_wav_real(_wav_float_bytes(samples, bits=64))
    assert np.abs(m64 - samples).max() == 0.0
    stereo = np.stack([samples, -samples], axis=1).ravel()
    _, m2 = decode_wav_real(_wav_float_bytes(stereo, channels=2))
    assert np.abs(m2).max() < 1e-7


def test_wav_truncated_data_chunk_trims_to_whole_samples():
    # r11 (r10 ADVICE): a truncated/odd-length data chunk must decode
    # the whole samples that ARE there, not die inside np.frombuffer
    # with "buffer size must be a multiple of element size"
    import numpy as np

    from eventkit_spark.llm.multimodal import decode_wav_real

    samples = np.linspace(-1, 1, 64)
    f32 = _wav_float_bytes(samples, bits=32)
    _, mono = decode_wav_real(f32[:-3])  # cut into the last f4 sample
    assert mono.size == 63
    assert np.abs(mono - samples[:63].astype(np.float32)).max() < 1e-7
    i16 = _wav_bytes(samples)
    _, m16 = decode_wav_real(i16[:-1])  # odd-length int16 data chunk
    assert m16.size == 63


def test_upsample_mix_model(spark):
    # per-source repeat factors vs the Python model: integer copies +
    # hash-thresholded fractional copy; factor 0.5 downsamples; the op
    # plans ZERO exchanges
    from eventkit_spark.llm.sampling import upsample_mix

    rows = [(i, f"src{i % 3}", "t") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    factors = {"src0": 2.25, "src1": 0.5, "*": 1.0}
    out = upsample_mix(df, factors, "doc_id")
    assert count_shuffles(out) == 0
    got = sorted(
        (r["doc_id"], r["source"], r["copy_no"])
        for r in out.select("doc_id", "source", "copy_no").collect()
    )
    KNUTH = 2654435761

    def h(k):
        return (k % 2**31) * KNUTH % 2**31 % 1_000_000

    want = []
    for did, src, _ in rows:
        f = factors.get(src, 1.0)
        k, thr = int(f), int(round((f - int(f)) * 1_000_000))
        n = k + (1 if h(did) < thr else 0)
        want += [(did, src, c) for c in range(n)]
    assert got == sorted(want)
    # global scalar factor form and the >=0 guard
    assert upsample_mix(df, 2.0, "doc_id").count() == 600
    import pytest as _pytest

    with _pytest.raises(ValueError):
        upsample_mix(df, -0.5, "doc_id")


def test_spread_guards(spark):
    """r12 (r11 ADVICE): the shared _spread helper only probes
    scan-shaped plans (the .rdd probe on anything else would finalize
    the AQE plan and eagerly run upstream shuffles), and returns
    streaming frames untouched."""
    from eventkit_spark.llm._spread import spread
    from eventkit_spark.session import session_width

    width = session_width(spark)
    docs = load_table(spark, SF, "documents")
    # scan-shaped single-split input: spread fires
    sp = spread(docs.select("doc_id", "text"))
    assert sp.rdd.getNumPartitions() == width
    # aggregate upstream: the probe is skipped, frame returned as-is
    agg = docs.groupBy("doc_id").count()
    assert spread(agg) is agg
    # already-wide input: no repartition (identity plan)
    wide = docs.repartition(width + 3).select("doc_id")
    assert spread(wide) is wide


def test_spread_exact_node_names(spark, tmp_path):
    """The scan-shape gate matches optimized-plan node CLASSES exactly:
    an explode (Generate) over a one-split scan is spread to the session
    width — the plan shape of mm_video_features' post-explode decode,
    which the old line-prefix match left serial — while a frame with an
    Aggregate keeps its plan."""
    from eventkit_spark.llm._spread import spread
    from eventkit_spark.session import session_width
    from eventkit_spark.sources.tables import read_parquet

    width = session_width(spark)
    path = str(tmp_path / "one_split")
    spark.range(64).selectExpr("id", "array(id, id + 1) AS arr").coalesce(1).write.parquet(path)
    scan = read_parquet(spark, path)
    assert scan.rdd.getNumPartitions() == 1
    exploded = scan.select("id", F.explode("arr").alias("x"))
    assert "Generate" in {node_class(n) for n in plan_nodes(exploded, "optimized")}
    assert spread(exploded).rdd.getNumPartitions() == width
    agg = exploded.groupBy("id").agg(F.sum("x").alias("s"))
    assert spread(agg) is agg


def test_heavy_hitters_closures_ship_by_value(tmp_path):
    """Both Misra–Gries closures — the batch ``mapInPandas`` kernel and
    the streaming state step — must unpickle and run in a process that
    cannot import ``eventkit_spark`` (executors of a driver that put a
    checkout on ``sys.path``): cloudpickle ships a module-level helper
    by reference, so ``_mg_add`` is factory-made and travels inside
    each pickle."""
    import subprocess
    import sys
    import types

    from pyspark import cloudpickle

    from eventkit_spark.llm.sketch import _mg_kernel
    from eventkit_spark.streaming.stream import StreamFrame

    steps = []
    owner = types.SimpleNamespace(
        value_cols=["value"], ts_col="ts",
        _scan_state=lambda step, *a, **kw: steps.append(step),
    )
    StreamFrame.heavy_hitters(owner, k=3)
    (tmp_path / "kernel.pkl").write_bytes(cloudpickle.dumps(_mg_kernel(3, "x")))
    (tmp_path / "step.pkl").write_bytes(cloudpickle.dumps(steps[0]))
    code = "\n".join([
        "import pickle, pandas as pd",
        "try:",
        "    import eventkit_spark",
        "    raise SystemExit('eventkit_spark is importable')",
        "except ModuleNotFoundError:",
        "    pass",
        "kern = pickle.load(open('kernel.pkl', 'rb'))",
        "step = pickle.load(open('step.pkl', 'rb'))",
        "out = list(kern(iter([pd.DataFrame({'x': list('aaabac')})])))[0]",
        "print(sorted(out['item']), int(out['n_part'].iloc[0]))",
        "emit, state = step('k', pd.DataFrame({'value': list('aaabac')}), None)",
        "print(sorted(emit['item']), state[2])",
    ])
    res = subprocess.run(
        [sys.executable, "-I", "-c", code], cwd=tmp_path, capture_output=True, text=True,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    # a: 4 of 6 rows, over n/k = 2 — the one surviving counter
    assert res.stdout.split("\n")[:2] == ["['a'] 6", "['a'] 6"]


def test_pq_searchers_empty_queries(spark):
    """An empty query frame gives an empty top-k with the schema a
    non-empty search returns, with and without the exact re-rank —
    like ``brute_force_topk`` — instead of failing to build the LUTs."""
    import random

    from eventkit_spark.llm.cluster import ivfopq_topk, ivfpq_topk, pq_topk

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    none = emb.filter(F.col("vec_id") < 0)
    some = emb.filter(F.col("vec_id") < 2)
    kw = dict(k=3, m=2, ks=8, max_iter=2)
    ivf = dict(n_cells=4, nprobe=2, **kw)
    for refine, dist in ((0, "adc_dist2"), (2, "dist2")):
        searches = [
            lambda q: pq_topk(emb, q, refine=refine, **kw),
            lambda q: ivfpq_topk(emb, q, refine=refine, **ivf),
        ]
        if refine:
            searches.append(lambda q: ivfopq_topk(emb, q, refine=refine, **ivf))
        for search in searches:
            empty, full = search(none), search(some)
            assert empty.columns == ["query_id", "neighbor_id", dist, "rank"]
            assert [f.dataType for f in empty.schema] == [f.dataType for f in full.schema]
            assert empty.collect() == []
            assert full.count() == 6


def test_candidate_shapes_only_in_their_helpers():
    """The llm package writes its two candidate shapes once each: the
    (i < j) posting-list pair expansion (a ``slice(lst, i + 2, …)``) only
    in ``dedup._posting_pairs``, and the per-group top-k cut (a
    ``row_number()`` rank filtered by ``rank <= k``) only in
    ``operators/relational.topk_per_group``. A hand-written copy is a
    second implementation of the shape to drift."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "eventkit_spark" / "llm"
    bad = []

    def callee(node):
        f = node.func
        return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)

    def is_rank_cut(node):
        # F.col("rank") <= k, or the SQL-string form "rank <= k"
        if isinstance(node, ast.Compare) and isinstance(node.ops[0], ast.LtE):
            left = node.left
            return (
                isinstance(left, ast.Call) and callee(left) == "col"
                and [ast.literal_eval(a) for a in left.args[:1]] == ["rank"]
            )
        return (
            isinstance(node, ast.Constant) and isinstance(node.value, str)
            and node.value.replace(" ", "").startswith("rank<=")
        )

    class Shapes(ast.NodeVisitor):
        def __init__(self, rel):
            self.rel, self.defs = rel, []

        def visit_FunctionDef(self, node):
            self.defs.append(node.name)
            where = f"{self.rel}:{node.lineno} in {'.'.join(self.defs)}"
            body = [n for n in ast.walk(node) if n is not node]
            numbered = any(isinstance(n, ast.Call) and callee(n) == "row_number" for n in body)
            if numbered and any(is_rank_cut(n) for n in body) and len(self.defs) == 1:
                bad.append(f"row_number top-k cut at {where}")
            self.generic_visit(node)
            self.defs.pop()

        def visit_Call(self, node):
            start = node.args[1] if len(node.args) > 1 else None
            if (
                callee(node) == "slice"
                and isinstance(start, ast.BinOp) and isinstance(start.op, ast.Add)
                and isinstance(start.right, ast.Constant) and start.right.value == 2
                and not (self.rel == "dedup.py" and self.defs[:1] == ["_posting_pairs"])
            ):
                bad.append(f"(i < j) pair expansion at {self.rel}:{node.lineno}")
            self.generic_visit(node)

    for path in sorted(pkg.rglob("*.py")):
        Shapes(path.relative_to(pkg).as_posix()).visit(ast.parse(path.read_text()))
    assert not bad, bad
