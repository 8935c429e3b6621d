"""Plan-shape assertions: the scale contract (pushdown, broadcast,
bounded shuffle counts) verified from the physical plan."""

import pytest
from pyspark.sql import Window as W, functions as F

from eventkit_spark.plans import assert_broadcast_join, assert_pushed_filter
from eventkit_spark.plans.audit import (
    count_shuffles, file_scans, node_class, node_columns, node_counts, plan_nodes,
    plan_report, profile_table, shuffles,
)


SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    from eventkit_spark.sources.tables import load_events

    ef = load_events(spark, SF).filter("value > 100")
    assert_pushed_filter(ef.df, "GreaterThan(value,100.0)")


def test_column_pruning(spark):
    from eventkit_spark.sources.tables import load_events

    ef = load_events(spark, SF)
    cols = file_scans(ef.df.select("event_id", "user_id"))[0].columns
    assert "event_type" not in cols and "props" not in cols


def test_small_dim_join_broadcasts(spark):
    import __spark_entry__ as e

    assert_broadcast_join(e.q_region_revenue(spark, SF))


def test_running_aggs_single_shuffle(spark):
    """fork of 2 running aggs over the same keyed window must cost ONE
    shuffle (same window spec -> one Window node after the key
    exchange), not one per branch."""
    from eventkit_spark.sources.tables import load_events

    ef = load_events(spark, SF)
    w = W.partitionBy("user_id").orderBy("event_id").rowsBetween(W.unboundedPreceding, 0)
    out = ef.df.select(
        "user_id",
        "event_id",
        F.sum("value").over(w).alias("a"),
        F.avg("value").over(w).alias("b"),
    )
    assert count_shuffles(out) <= 1


def test_running_multi_single_shuffle(spark):
    """running_multi must plan ONE exchange for N aggregates."""
    from eventkit_spark.sources.tables import load_events

    ef = load_events(spark, SF).running_multi("min", "max", "sum", "mean", "ema")
    assert count_shuffles(ef.df) <= 1


# Golden shuffle ceilings for the headline contract queries: the number
# of Exchange nodes each query is ALLOWED to plan at sf0.001. A failure
# means a regression added a shuffle (or an improvement lowered one —
# then tighten the ceiling). Stateful-kernel and iterative queries are
# excluded (mapInPandas/driver-loop shapes, not pure Catalyst plans).
SHUFFLE_CEILING = {
    "filter": 0,
    "split_by_hash": 0,
    "text_stats": 0,
    "text_quality": 0,
    "running_sum": 1,
    "ema": 1,
    "deque": 1,
    "chunk": 1,
    "changes": 1,
    "unique": 1,
    "merge": 1,
    "ziplatest": 1,
    "sample": 1,
    "timeout": 1,
    "debounce_last": 1,
    "mergemap": 1,
    "tpch_q1": 1,
    "topk_orders": 1,
    "dedup_exact": 1,
    "stratified_sample": 1,
    "pack_sequences": 1,
    "source_quota": 1,
    "repetition": 2,
    "embed_topk": 2,
    # r5 sketch/tokenizer/split contracts: measured shapes pinned —
    # sketch outputs are d*w / 2^p bounded, so every exchange after the
    # type-collapse carries kilobytes; dedup_safe_split rides the CC
    # driver fast path (labels arrive as a local relation).
    # bpe_encode's word join broadcasts the per-word table, which the
    # fit lane derives lazily from its local type table (driver path),
    # so that branch carries no merge lineage: the 2 are the per-doc
    # aggregate and the id-stream join-back
    "bpe_encode": 2,
    "bpe_encode_bytes": 2,
    "bpe_fertility": 3,
    # r8 unigram family: vocab = word-type agg + substring agg + char
    # agg + TakeOrdered; encode adds the type distinct, the per-word
    # packed-map agg, the instance join-back and the per-doc agg;
    # fertility adds the per-doc chars agg + the per-lang agg
    "unigram_vocab": 4,
    "unigram_encode": 8,
    "unigram_fertility": 10,
    # store lifecycle probe: the persisted-vocab read replaces the fit
    # branch, but the packed-map agg + type distinct + join-back stay
    "unigram_store": 6,
    # (doc, word) agg + per-doc agg; the id-stream join broadcasts
    "lexical_diversity": 2,
    # r9: trigram stupid backoff = 3 ref count tables (uni/bi/tri) +
    # the batch (doc,trigram) pre-agg + the count joins + final per-doc
    # agg; all dimension joins broadcast at test SF (0 SortMergeJoin)
    "stupid_backoff": 9,
    # r9: token budget = ONE per-source window cumsum; scan prunes to
    # (doc_id, text, source)
    "token_quota": 1,
    # r9: repeat factors are a pure projection + in-row explode
    "upsample_mix": 0,
    # r9: store probe = batch pre-agg + per-doc agg + trigram join,
    # plus merge-on-read re-sums of the three count tables (one per
    # lineage branch: uni x3 / bi x2 / tri x1) — count-table-width
    # exchanges, never corpus-width; the seed corpus never re-plans.
    # Merge-on-read is what makes ngram_lm_store_append append-only.
    "ngram_lm_store": 9,
    # r7: rank machinery (pid agg + pid window + 1-task bucket offsets)
    # + ONE min_by(struct) dedup aggregate; no join-back branch
    "unique_scaled": 4,
    # r7 text ops: keyword dim distinct + (doc,kw) agg; phrase anchors
    # agg + final agg + the tiny dim distinct; normalize is a pure
    # scan + Arrow kernel
    "keyword_hits": 2,
    "phrase_hits": 3,
    "normalize_text": 0,
    "cms_counts": 6,
    "hll_card": 7,
    "hll_by_key": 7,
    "dedup_safe_split": 2,
    "cluster_topics": 3,
    "hard_negatives": 6,
    # ONE scan + ONE kilobyte aggregate: the moment partials are the
    # whole exchange; anything more means the matmul fell out of the
    # mapInPandas kernel
    "embed_moments": 1,
    # stats ride broadcast LITERALS (collected at build), so the
    # standardizing projection itself is exchange-free
    "embed_standardize": 0,
    "asof_join": 2,  # right-side dedupe agg + the union window
    "zip": 3,
    "tpch_q3": 3,
    # portable form == production shape since the r5 md5-fold rewrite
    # (no vocab distinct, no broadcast fold join)
    "dedup_minhash": 3,
    # the registered query is the PORTABLE-oracle form (r4): +1 distinct
    # agg and +1 broadcast exchange for the tiny vocab hash dimension;
    # the xxhash64 production form stays at 3 (pinned below in
    # test_dedup_pair_queries_scan_budget / production ceiling)
    "dedup_simhash": 5,
    # 4 with the window guard; the skew-safe anti-join guard adds the
    # hot-shingle aggregate + both anti-join sides (tiny 8-byte-hash
    # exchanges) and still runs FASTER wall-clock — see
    # test_dedup_pair_queries_scan_budget
    "dedup_jaccard": 7,
    "switchmap": 4,
    "decontaminate": 4,
    "tfidf": 5,  # df agg + skew-splittable join, not a hot-term window
    # round-3 additions
    "line_dedup": 3,  # skew-safe agg+join form, not a hot-key window
    "redact_pii": 0,
    # round-4 additions
    # tf agg + df agg + idf join + norm window (id exchange) + posting
    # agg + pair agg — the jaccard posting-list shape over weights
    "tfidf_cosine": 7,
    # five hash shuffles as the node-class walker reads them (the
    # cached plan under each scan of the persisted (id,bucket,c)
    # aggregate is walked once); at runtime each side's text is scanned
    # once and the broadcast weight table is buckets-sized
    "dsir": 5,
    "char_entropy": 0,  # Arrow kernel + codegen ratios, pure scan
    "containment": 7,  # shared _pair_counts core — same shape as jaccard
    "rfm": 3,  # key agg + 1-row corpus-max agg, no window
    # distinct (id,hash) + shingle min-agg + join + id agg — agg-join
    # form, no hot-shingle window (the line_dedup shape)
    "novelty": 4,
    "anomaly": 1,  # one key shuffle, sliding RANGE frame (rolling's twin)
    # fact-side shuffles + static-plan supplier join exchanges (AQE
    # re-plans the small filtered sides at runtime); nation/region
    # broadcast — plan-asserted in test_tpch_q5_pushdown_and_broadcast
    "tpch_q5": 6,
    "tpch_q6": 1,  # pure scan + scalar agg; all predicates pushed
    # train distinct-hash agg + heldout distinct + semi-join + leak/total
    # id aggs + the totals-leaked outer join — the only corpus-sized
    # exchange carries 8-byte hashes
    "contamination_report": 7,
    "percentiles": 1,  # one sort-based percentile agg, partial-combined
    "group_corr": 1,  # co-moment merge cells only
    "group_regression": 1,  # same co-moment shape as group_corr
    # lag window on the key exchange + count agg + outdegree window
    # over the tiny (prev,next) table
    "event_transitions": 3,
    "session_stats": 2,  # sessionize's one key shuffle + session agg
    "quality_classifier": 3,  # tf agg + norm window + score agg; no join
    "sessionize": 1,  # two windows on ONE key shuffle
    "interval_join": 1,  # event-bin shuffle; interval side AQE-broadcasts
    "funnel": 12,  # k=3 filtered aggs + key joins over #keys-row tables
    # post-checkpoint tail plans only (CC rounds are eager) — canaries
    "fuzzy_dedup": 2,
    "semantic_dedup": 2,
    "fork_merge": 2,
    "reduce_py": 1,
    "mm_image_features": 1,  # the _spread repartition only
    "mm_audio_features": 1,
    "mm_video_features": 1,
    "embed_ivf_recall": 2,
    "c4_filters": 0,  # pure scan: HOF line filter + doc predicate in place
    # vocab agg + (doc,tok) agg + tok join + id agg + 1-row total
    # broadcast; the vocab branch is persisted so its plan-time lineage
    # (counted here) runs once at runtime
    "unigram_logprob": 7,
    # flagged-residue agg + the heldout distinct, which is PERSISTED
    # and read through a broadcast (its cached plan is walked once)
    "decontaminate_bloom": 2,
    # slice-count agg (+tiny-table window) + data shuffle on slice + broadcast
    "train_order": 4,
    # plan-time lineage: the persisted doc-score table appears on both
    # the cutoff and labeling sides, so its unigram chain is COUNTED
    # twice here; at runtime the persist runs it once (~7 real
    # exchanges: unigram 5 + lang join + cutoff agg/broadcast)
    "ccnet_buckets": 18,
    # r7 in-row rebuild: window-hash firsts agg + dup join-back + the
    # removed-positions set agg; the rebuild never explodes the token
    # stream, so exchanges carry only window hashes and (id, pos) ints
    "substring_dedup": 2,
    # round-4 late additions
    "gopher_rules": 0,  # pure codegen projection, integer verdicts
    "bm25": 5,  # tf agg + df agg + join + rank window (tfidf shape)
    "asof_join_forward": 2,  # right dedupe agg + union window
    # backward+forward windows share ONE key exchange (2nd sort, no
    # 2nd shuffle) + right dedupe agg
    "asof_join_nearest": 2,
    "overlap_join": 1,  # shared-bin equi-join, first-bin dedup
    "topk_per_group": 1,
    "retention": 4,  # distinct + first-seen agg + join + cohort agg
    "histogram": 1,  # one partial-combined cell aggregate
    "resample": 1,  # one min_by/max_by hash agg on (key, bucket)
    "rolling_time": 1,  # one key shuffle, sliding RANGE frame
    "url_canonicalize": 0,  # pure regex projection
    "host_stats": 2,  # distinct-canonical expand + host agg
    # bigram/unigram count tables + (doc,w1,w2) pre-agg + 3 scoring
    # joins + final per-doc agg; the persisted unigram table's lineage
    # is counted on both its join sides here, runs once at runtime
    "bigram_logprob": 11,
    # pair + unigram count aggs, unigram joined twice (plan-time lineage
    # counts it per side), one-row total broadcast, global top-k
    "collocations": 8,
    # r4 continuation: TPC-H plan showcases + event-time analytics
    "tpch_q4": 2,  # semi-join orderkey exchanges only; agg partial-combines
    "tpch_q10": 4,  # orderkey x2 + custkey + group agg; top-20 = TakeOrdered
    "tpch_q12": 2,  # one orderkey join; CASE sums partial-combine
    "tpch_q14": 2,  # part broadcasts; scalar agg single-row exchange
    "tpch_q18": 3,  # agg-BEFORE-join: qty agg on the orderkey exchange
    "twap": 1,  # lead window + agg share one user_id exchange
    "interarrival": 2,  # (user,type) lag exchange + type agg
    "grouping_sets": 1,  # one Expand + one cell agg, single scan
    # fact exchanges; nation + nation-filtered cust/supp dims broadcast
    "tpch_q7": 6,
    # suppkey agg lineage counted on BOTH the winner and 1-row-max
    # sides at plan time (runtime reuses the month-filtered scan); no
    # global sort anywhere
    "tpch_q15": 5,
    "dau": 2,  # two-level distinct expand: (day,user) partial + day rollup
    "pct_change": 1,  # one lag window on the key exchange
    # r4 battery completion (q2/q9/q11/q16/q20, partsupp-free
    # adaptations): counts include BroadcastExchange nodes and plan-time
    # lineage duplication where an aggregate feeds both sides of its own
    # probe join (q2 offers/best, q11 per-part/total) — the fact table
    # is scanned once per branch, dims always broadcast
    "tpch_q2": 13,  # 8 broadcasts; offers agg + per-part min + probe
    "tpch_q9": 5,  # 4 broadcasts; one orderkey join + (nation,year) agg
    "tpch_q11": 10,  # 6 broadcasts; per-part agg on both total/probe branches
    "tpch_q16": 4,  # 2 broadcasts; two-level distinct expand
    "tpch_q20": 9,  # 6 broadcasts; one (supp,part) agg + supplier semi-join
    # r4 session-2 additions ("triangles" is excluded: its persisted
    # edge/orientation pins repeat the cached child plan per scan in the
    # plan STRING — see test_triangle_count_plan_pins_edges instead)
    "attribution": 1,  # one tagged scan + one key-window exchange
    "phrase_search": 3,  # posting prune before (doc,anchor) + doc aggs
    "zorder_key": 0,  # pure codegen projection
    "skew_report": 4,  # key agg + 1-row totals + TakeOrdered top-k
    # bucket-count agg + tiny offsets window + rank join + both
    # self-join sides (plan-time lineage counts the ranked table twice)
    "sorted_neighborhood": 9,
    "corpus_diff": 2,  # one (id,hash) exchange per snapshot side
    "event_paths": 2,  # two lags on one key exchange + path agg
    "bm25_search": 5,  # pruned tf agg + tiny df agg + top-k
    "multi_touch": 2,  # binned (key,bin) equi-join + conv-id window
    "winsorize": 2,  # percentile agg (+1 plan-time lineage) broadcast back
    "corpus_report": 3,  # global card agg + top-k lang agg on one scan
    "quantile_bins": 2,  # percentile agg (+1 plan-time lineage) broadcast back
    # distinct (id,hash) per side + size aggs + intersection agg; the
    # heldout side's exchanges are broadcast-bound and benchmark-sized
    "fuzzy_decontaminate": 10,
    "bootstrap_ci": 2,  # (group,replica) cells then the group finisher
    "ab_lift": 2,  # 64 replica cells then the one-row finisher
    "cuped": 2,  # unit rollup (user agg) + the one-row readout aggregate
    # r6 scaled selection: bucket window shuffle + bucket-summary agg +
    # the kilobyte carry/offset single-partition window
    "takewhile_scaled": 3,
    "dropwhile_scaled": 3,
    "skip_scaled": 3,
    "changes_scaled": 3,
    "chunk_scaled": 4,  # + the chunk grouping aggregate
    "previous_scaled": 6,  # rank machinery on BOTH self-join sides
    # one kernel projection + explode; docs independent. The +1 is the
    # CPU-spread round-robin repartition before the hash kernel (fires
    # only when the scan has fewer splits than the session width —
    # never at warehouse scale, always on the one-row-group test files)
    "winnow": 1,
    # hourly prep agg + key window + phase agg + the tiny seasonal
    # broadcast's build aggregate
    "seasonal_decompose": 4,
    # 2x per-side (id,fp) distinct + df-prune agg + pair agg, plus the
    # CPU-spread repartition under each of the four planned kernel
    # subtrees (see "winnow" above; plan-time lineage counts each side
    # twice — df-guard + join leg)
    "winnow_overlap": 10,
    "webdataset": 0,  # binaryFile scan -> one tar kernel, no shuffle
    # the fit runs while the frame is built; train returns its merges
    # as a local relation, vocab aggregates the local type table lazily
    "bpe_train_bytes": 0,
    "bpe_vocab_bytes": 1,  # the token-frequency aggregate
}


def test_headline_shuffle_ceilings(spark):
    import __spark_entry__ as e
    from concurrent.futures import ThreadPoolExecutor

    # measure canonical (uncached) plan shapes: cached intermediates left
    # behind by earlier tests swap ReusedExchange subtrees for
    # InMemoryTableScan branches and inflate the apparent exchange count
    # (ccnet_buckets 18 -> 42 with test_llm's caches warm)
    spark.catalog.clearCache()
    qs = e.queries()

    def check(item):
        name, ceiling = item
        n = count_shuffles(qs[name](spark, SF))
        return (name, n, ceiling) if n > ceiling else None

    # fan the 151 plan constructions out over a thread pool: planning is
    # driver/JVM work and thread-safe, and this test was the single
    # slowest in the suite at ~170 s serial (r12, VERDICT item 2 — the
    # driver's verify window could no longer fit the suite). Sharing the
    # session across threads is safe because the builders set only
    # idempotent constant confs (nanosAsLong=true and the UTC time
    # zone, the same values every time) and read parquet through
    # sources.tables.read_parquet, whose schema memo is lock-guarded: a
    # racing miss re-infers a schema, never returns another table's.
    with ThreadPoolExecutor(max_workers=8) as ex:
        hits = [r for r in ex.map(check, SHUFFLE_CEILING.items()) if r]
    over = {name: (n, ceiling) for name, n, ceiling in hits}
    assert not over, f"queries over their shuffle ceiling: {over}"


def test_dedup_pair_queries_scan_budget(spark):
    """The posting-list formulations must shingle/fingerprint the corpus
    exactly once — the a⋈b self-joins planned up to six scan+regex
    copies with no exchange reuse. Exception: the df-pruning GUARD
    (max_df) deliberately pays a second scan for its hot-shingle
    aggregate — the skew-safe anti-join guard measured FASTER than the
    single-scan count-window it replaced (hot-key window buffering costs
    more than one extra parallel scan), and a hot shingle never funnels
    through one task."""
    import __spark_entry__ as e

    # q_dedup_minhash is the portable-ORACLE form since the r4 extension
    # pass: like simhash, its distinct-shingle fold dimension pays one
    # extra column-pruned scan; the xxhash64 production form is pinned
    # single-scan below
    budgets = {e.q_dedup_jaccard: 2, e.q_dedup_simhash: 2, e.q_dedup_minhash: 2}
    for q, budget in budgets.items():
        n = plan_report(q(spark, SF))["scans"]
        assert n <= budget, f"{q.__name__}: {n} scans > budget {budget}"
    # q_dedup_simhash is the portable-ORACLE form (r4): its vocab hash
    # dimension pays one extra (column-pruned, tiny-vocab) scan. The
    # xxhash64 PRODUCTION form must keep the single-scan single-pipeline
    # plan and the 3-exchange ceiling.
    from eventkit_spark.llm.dedup import simhash_near_dups
    from eventkit_spark.sources.tables import load_table

    prod = simhash_near_dups(load_table(spark, SF, "documents"), max_hamming=3)
    assert plan_report(prod)["scans"] <= 1
    assert count_shuffles(prod) <= 3
    # same pin for the xxhash64 production minhash: one scan, 3 exchanges
    from eventkit_spark.llm.dedup import minhash_lsh_candidates

    prod_mh = minhash_lsh_candidates(load_table(spark, SF, "documents"))
    assert plan_report(prod_mh)["scans"] <= 1
    assert count_shuffles(prod_mh) <= 3


def _assert_probe_reads_ids_once(res, store_col):
    """A dry-run probe plan never scans the batch text, scans the batch
    ids at most once (the status join; ``store_col`` marks the store's
    scans), and reads its one pass from a checkpointed RDD per branch."""
    scans = [s.columns for s in file_scans(res)]
    assert not [c for c in scans if "text" in c], f"probe plan scans batch text: {scans}"
    assert len([c for c in scans if "doc_id" in c and store_col not in c]) <= 1
    assert node_counts(res)["RDDScanExec"] >= 2


def test_simhash_dryrun_probe_single_fingerprint_pass(spark):
    """r10 (r9 VERDICT item 4): the commit=False probe must fingerprint
    the batch text ONCE. The persist-free form recomputed the shingle
    pass per status branch (up to 3 batch-text scans); the lazy
    localCheckpoint shares one pass across hits / competition / status,
    so the probe plan reads the batch parquet only for the id column
    and never for text."""
    import tempfile

    from eventkit_spark.llm.dedup import (
        simhash_dedup_incremental,
        simhash_store_init,
    )
    from eventkit_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    path = tempfile.mkdtemp(prefix="ek_shpin_")
    simhash_store_init(
        docs.filter(F.col("doc_id") % 3 != 0), path, max_hamming=3, portable=True
    )
    res = simhash_dedup_incremental(
        docs.filter(F.col("doc_id") % 3 == 0), path, commit=False
    )
    # the one fingerprint pass is the checkpointed RDD, read per branch
    _assert_probe_reads_ids_once(res, "simhash")
    # and it still answers correctly
    statuses = {r["status"] for r in res.collect()}
    assert statuses <= {"kept", "dup_store", "dup_batch"}


def test_embed_neardup_prefilter_buckets_once(spark):
    """embedding_near_dups(prefilter='rp_lsh') must run the Arrow
    bucketing pass exactly once: the old bucketed a⋈b self-join planned
    the pandas-UDF pipeline on both sides (no exchange reuse). The
    posting-list form has two ArrowEvalPython nodes total — one
    bucketing, one cosine verify."""
    from eventkit_spark.llm.similarity import embedding_near_dups
    from eventkit_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    c = node_counts(embedding_near_dups(emb, threshold=0.92, prefilter="rp_lsh"))
    assert c["ArrowEvalPythonExec"] == 1, "bucketing pipeline planned more than once"
    assert c["MapInPandasExec"] == 1, "verify pass should be one fused Arrow kernel"


def test_contamination_bloom_zero_shuffle_corpus(spark):
    """contamination(method='bloom') must keep the corpus branch a pure
    scan: shingle-hash arrays built in place (no explode), probed by ONE
    Arrow UDF against the broadcast bloom. The heldout side is a
    DISTRIBUTED frame (bloom built by a bit_or aggregate, verify side
    broadcast by Spark) — no toPandas/createDataFrame materialization
    proportional to heldout size anywhere (r4 VERDICT scale flag)."""
    from eventkit_spark.llm.dedup import contamination
    from eventkit_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    held = docs.filter(F.col("doc_id") % 5 == 0)
    out = contamination(train, held, method="bloom")
    c = node_counts(out)
    # heldout's explode+distinct pipeline is PERSISTED (it feeds the
    # sizing count, the bloom build, and this verify branch — one
    # physical compute, then cache reads), so the verify side shows an
    # InMemoryTableScan instead of a second live heldout pipeline; the
    # walk also visits the cached plan under it, once
    assert c["InMemoryTableScanExec"] == 1, "heldout verify reads the cache"
    assert c["FileSourceScanExec"] == 2, "corpus scan + cached heldout plan"
    assert not c["LocalTableScanExec"], "heldout must stay distributed"
    assert c["ArrowEvalPythonExec"] == 1, "one bloom-probe kernel"
    # flagged-residue aggregate + the cached pipeline's distinct
    assert shuffles(out)["HashPartitioning"] == 2
    # the regex/shingle chain must not be inferred into the scan filter
    # (the explode_outer guard) — corpus rows pay it exactly once
    regexps = {"RegExpReplace", "RegExpExtract", "RegExpExtractAll"}
    assert not any(
        regexps & p.classes for s in file_scans(out) for p in s.data_filters
    ), "shingle chain leaked into scan filter"


def test_contamination_store_probe_zero_shuffle_corpus(spark, tmp_path):
    """decontaminate_incremental must keep the same corpus-branch shape
    as the in-memory bloom path: one corpus FileScan probed by ONE Arrow
    bloom kernel, exact verify against the PERSISTED hash parquet (one
    more FileScan), and only the flagged-residue aggregate + nothing
    else shuffling corpus rows. The suite is never rescanned — no
    documents-side second scan, no LocalTableScan."""
    from eventkit_spark.llm.dedup import (
        contamination_store_init, decontaminate_incremental,
    )
    from eventkit_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "cstore")
    contamination_store_init(docs.filter(F.col("doc_id") % 5 == 0), path, k=5)
    out = decontaminate_incremental(docs.filter(F.col("doc_id") % 5 != 0), path)
    c = node_counts(out)
    # corpus scanned once + the persisted hash set read once
    assert c["FileSourceScanExec"] == 2, "corpus + stored hashes only"
    assert not c["LocalTableScanExec"], "store must stay distributed"
    assert c["ArrowEvalPythonExec"] == 1, "one bloom-probe kernel"
    # one hash exchange: the flagged-residue aggregate (stored hashes
    # arrive pre-distinct, so the r4 heldout-distinct exchange is gone)
    assert shuffles(out)["HashPartitioning"] == 1


def test_bucketed_join_elides_shuffle(spark):
    """Two tables bucketed on the same key join AND aggregate with no
    shuffle exchange — the write-once pre-shuffle that makes repeated
    fact-fact joins viable at 100 TB."""
    from eventkit_spark.sources import assert_colocated, drop_table, save_bucketed
    from eventkit_spark.sources.tables import load_events

    ev = load_events(spark, SF).df.select("event_id", "user_id", "value")
    try:
        t1 = save_bucketed(ev, "ev_bucketed_a", "user_id", buckets=4)
        t2 = save_bucketed(
            ev.groupBy("user_id").count(), "ev_bucketed_b", "user_id", buckets=4
        )
        joined = t1.join(t2, "user_id")
        assert_colocated(joined)
        agg = t1.groupBy("user_id").agg(F.sum("value"))
        assert_colocated(agg)
        assert joined.count() == ev.count()
    finally:
        drop_table(spark, "ev_bucketed_a")
        drop_table(spark, "ev_bucketed_b")


def test_colocated_rejects_every_shuffle(spark):
    """assert_colocated fails on a shuffle of ANY partitioning, not only
    hash and range: a round-robin repartition and a global window (a
    SinglePartition exchange) move every row too."""
    from eventkit_spark.sources import assert_colocated

    base = spark.range(1000)
    for moved in (
        base.repartition(8),
        base.withColumn("r", F.row_number().over(W.orderBy("id"))),
    ):
        with pytest.raises(AssertionError, match="shuffle"):
            assert_colocated(moved)


def test_takeuntil_no_fact_reshuffle(spark):
    """takeuntil's notifier aggregate joins broadcast at runtime: the
    engine no longer force-hints keyed cut tables (high-cardinality keys
    could blow the driver), so AQE must still discover the small side
    from runtime stats — assert on the executed final plan."""
    import __spark_entry__ as e

    assert_broadcast_join(e.q_takeuntil(spark, SF), execute=True)


def test_tpch_q5_pushdown_and_broadcast(spark):
    """Q5's date predicate must reach the orders parquet scan and the
    nation/region dimensions must broadcast — the 6-table join's only
    data-sized exchanges are the fact-side shuffles."""
    import __spark_entry__ as e

    q5 = e.q_tpch_q5(spark, SF)
    assert node_counts(q5)["BroadcastHashJoinExec"]
    assert_pushed_filter(q5, "o_orderdate")


def test_tpch_showcase_plan_shapes(spark):
    """The r4-continuation TPC-H adaptations keep their scale contracts:
    Q14's part dimension broadcasts (zero fact-side shuffle for the
    join), Q18 aggregates quantity BEFORE joining (the probe side is
    qualifying orderkeys, not raw lineitem), Q4's EXISTS is a left-semi
    join (no lineitem payload past the probe), and both top-k queries
    use TakeOrderedAndProject instead of a global sort."""
    import __spark_entry__ as e

    assert node_counts(e.q_tpch_q14(spark, SF))["BroadcastHashJoinExec"]

    q18 = e.q_tpch_q18(spark, SF)
    assert node_counts(q18)["TakeOrderedAndProjectExec"]
    # the quantity aggregate: a HashAggregate reading l_quantity
    assert any(
        node_class(n) == "HashAggregateExec" and "l_quantity" in node_columns(n)
        for n in plan_nodes(q18, "physical")
    )

    joins = ("SortMergeJoinExec", "BroadcastHashJoinExec", "ShuffledHashJoinExec")
    assert "LeftSemi" in {
        node_class(n.joinType())
        for n in plan_nodes(e.q_tpch_q4(spark, SF), "physical")
        if node_class(n) in joins
    }

    c10 = node_counts(e.q_tpch_q10(spark, SF))
    assert c10["TakeOrderedAndProjectExec"]
    assert c10["BroadcastHashJoinExec"]  # nation dimension


def test_triangle_count_plan_pins_edges(spark):
    """The triangle census must read its six graph branches from the
    persisted canonical-edge / orientation caches — without the pin,
    every branch replays the full upstream pair-building pipeline
    (x6 corpus scans on a similarity-graph input)."""
    import __spark_entry__ as e

    spark.catalog.clearCache()
    try:
        assert node_counts(e.queries()["triangles"](spark, SF))["InMemoryTableScanExec"]
    finally:
        spark.catalog.clearCache()


def test_ivf_index_query_partition_prunes(spark, tmp_path):
    """Querying a persisted IVF index must read ONLY the probed cells:
    the cells table is written partitioned by cell and the probe set
    becomes a PartitionFilters IN-list on the scan — at 100 TB the I/O
    is ~nprobe/n_cells of the index, not the corpus."""
    from eventkit_spark.llm.similarity import ivf_index_topk, ivf_index_write
    from eventkit_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "ivf_idx")
    ivf_index_write(emb, path, n_cells=8, centroids="portable")
    out = ivf_index_topk(spark, path, emb.filter(F.col("vec_id") < 3), k=5, nprobe=2)
    filters = [p for s in file_scans(out) for p in s.partition_filters]
    assert any(
        p.columns == {"cell"} and {"In", "InSet"} & p.classes for p in filters
    ), f"probe set not pushed as a partition filter: {filters}"


def test_plan_report_counts(spark):
    """plan_report: a lazy one-call budget — no job triggered, counts
    match the known shape of a simple aggregate and flag a
    BroadcastNestedLoopJoin when a join loses its equi-condition."""
    from pyspark.sql import functions as F

    from eventkit_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    agg = ev.groupBy("user_id").agg(F.sum("value").alias("s"))
    rep = plan_report(agg)
    assert rep["scans"] == 1 and rep["exchanges"] >= 1
    assert rep["nested_loop_joins"] == 0 and rep["python_evals"] == 0

    small = load_table(spark, SF, "region")
    bad = ev.join(small, ev.value > small.r_regionkey)  # inequality only
    assert plan_report(bad)["nested_loop_joins"] >= 1


def test_rollup_timeseries_single_scan_single_exchange(spark):
    """Multi-grain rollup must plan ONE fact scan + ONE Expand + ONE
    hash exchange regardless of grain count — adding a grain adds an
    Expand replica, never a second 100 TB scan (the GROUPING SETS
    contract vs the naive one-aggregate-per-grain union)."""
    from eventkit_spark.operators.relational import rollup_timeseries
    from eventkit_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    for grains in [("hour", "day"), ("hour", "day", "month")]:
        out = rollup_timeseries(ev, by="event_type", grains=grains)
        c = node_counts(out)
        assert c["FileSourceScanExec"] == 1, f"{grains}: fact table scanned once"
        assert c["ExpandExec"] == 1
        assert shuffles(out)["HashPartitioning"] == 1


def test_pivot_agg_single_pass_no_discovery_job(spark):
    """Declared-values pivot must be a single conditional-aggregate
    pass: one scan, one exchange — and constructing it must launch NO
    Spark job (Spark's pivot() without values runs a distinct discovery
    scan at plan time; declared values are the 100 TB contract)."""
    from eventkit_spark.operators.relational import pivot_agg
    from eventkit_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None) or [])
    out = pivot_agg(ev, "user_id", "event_type", ["click", "view"])
    assert len(tracker.getJobIdsForGroup(None) or []) == jobs_before, (
        "constructing pivot_agg ran a discovery job"
    )
    assert plan_report(out)["scans"] == 1
    assert shuffles(out)["HashPartitioning"] == 1


def test_plan_report_exchanges_exclude_broadcast_and_reused(spark):
    """Regression (r6 advice): plan_report['exchanges'] means SHUFFLES —
    a broadcast-joined aggregate must report its BroadcastExchange under
    'broadcasts' only, matching count_shuffles."""
    from pyspark.sql import functions as F

    from eventkit_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    small = load_table(spark, SF, "region")
    j = ev.join(
        F.broadcast(small), ev.value.cast("long") == small.r_regionkey
    ).groupBy("event_type").agg(F.count("*").alias("n"))
    rep = plan_report(j)
    assert rep["broadcasts"] >= 1
    assert rep["exchanges"] == count_shuffles(j)


def test_contamination_join_single_corpus_scan(spark):
    """The join route (sub-threshold corpora) must plan exactly ONE
    corpus scan even when train and heldout are filtered splits of the
    SAME table — the heldout hash set is eagerly checkpointed
    (benchmark-suite-sized), so the result plan never re-derives the
    heldout branch (r6 ROADMAP '2-scan' item, closed r7). Values must
    still match the lazy two-frame semantics."""
    from eventkit_spark.llm.dedup import contamination
    from eventkit_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    held = docs.filter(F.col("doc_id") % 5 == 0)
    out = contamination(train, held, method="join")
    c = node_counts(out)
    assert c["FileSourceScanExec"] == 1, "heldout branch must not rescan"
    assert not c["ArrowEvalPythonExec"] + c["BatchEvalPythonExec"]
    # sanity: contaminated docs exist in this fixture and every flagged
    # id is a train doc
    rows = out.collect()
    assert rows and all(r["doc_id"] % 5 != 0 for r in rows)


def test_contamination_auto_routes_by_corpus_size(spark):
    """method='auto' (the r6 default): a corpus above the size threshold
    plans the bloom form (zero corpus-side shuffle — the probe branch is
    a pure scan + Arrow kernel), while a small corpus keeps the simpler
    join plan (no eager bloom-build jobs at construction)."""
    from eventkit_spark.llm.dedup import contamination
    from eventkit_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    held = docs.filter(F.col("doc_id") % 5 == 0)

    # tiny threshold -> bloom: one Arrow bloom-probe kernel present
    big = contamination(train, held, method="auto", auto_bloom_bytes=1)
    assert node_counts(big)["ArrowEvalPythonExec"] == 1

    # huge threshold -> join: no Python anywhere in the plan
    small = contamination(train, held, method="auto",
                          auto_bloom_bytes=1 << 60)
    c = node_counts(small)
    assert not c["ArrowEvalPythonExec"] + c["BatchEvalPythonExec"]


def test_contamination_auto_raises_on_unreadable_plan(spark, monkeypatch):
    """method='auto' reads Catalyst's size estimate to pick a form; a
    plan it cannot read raises instead of routing to bloom as if the
    corpus were big."""
    from eventkit_spark.llm.dedup import contamination
    from eventkit_spark.plans import audit
    from eventkit_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    held = docs.filter(F.col("doc_id") % 5 == 0)

    def unreadable(df):
        raise RuntimeError("plan unreadable")

    monkeypatch.setattr(audit, "_qe", unreadable)
    with pytest.raises(RuntimeError, match="unreadable"):
        contamination(train, held, method="auto")


def test_registry_kernels_evaluate_once(spark):
    """No batch registry query's physical plan evaluates a Python UDF
    call twice in one lineage (plans/audit.repeated_python_udfs). Holds
    the asNondeterministic pins of the Arrow kernels, and fails a new
    unpinned kernel that Catalyst copies into several projections."""
    import __spark_entry__ as e
    from concurrent.futures import ThreadPoolExecutor

    from eventkit_spark.plans.audit import repeated_python_udfs

    qs = e.queries()

    def check(name):
        return name, repeated_python_udfs(qs[name](spark, SF))

    names = [n for n in qs if "_stream" not in n]
    # plan construction is driver/JVM work; see test_headline_shuffle_ceilings
    with ThreadPoolExecutor(max_workers=8) as ex:
        repeats = {n: r for n, r in ex.map(check, names) if r}
    assert not repeats, f"Python UDF calls evaluated twice: {repeats}"


def test_profile_table_single_pass(spark):
    """profile_table: one aggregate over the source (single FileScan),
    metrics correct on a frame with known NULLs and types."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a", 2.0), (2, None, 4.0), (None, "b", None), (2, "b", 8.0)],
        "k long, s string, v double",
    )
    rows = {r["column"]: r for r in
            profile_table(df, exact_distinct=True).collect()}
    assert rows["k"]["n"] == 3 and rows["k"]["n_null"] == 1
    assert rows["k"]["n_distinct"] == 2
    assert rows["s"]["min_str"] == "a" and rows["s"]["max_str"] == "b"
    assert rows["v"]["mean"] == round((2 + 4 + 8) / 3, 6)
    assert rows["v"]["min_num"] == 2.0 and rows["v"]["max_num"] == 8.0

    from eventkit_spark.sources.tables import load_table

    prof = profile_table(load_table(spark, SF, "documents"))
    assert plan_report(prof)["scans"] == 1


def test_profile_table_dotted_column_names(spark):
    """Column names containing dots (legal in Spark) must profile
    correctly — helper aliases are positional, never name-derived
    (ADVICE r6: f-string aliases parsed as nested-field access)."""
    df = spark.createDataFrame(
        [(1, "x"), (2, None), (2, "y")], ["m.count", "tag.v1"]
    )
    rows = {r["column"]: r for r in
            profile_table(df, exact_distinct=True).collect()}
    assert rows["m.count"]["n"] == 3 and rows["m.count"]["n_distinct"] == 2
    assert rows["m.count"]["max_num"] == 2.0
    assert rows["tag.v1"]["n_null"] == 1 and rows["tag.v1"]["min_str"] == "x"


def test_no_vacuous_oracles_at_smallest_sf():
    """Every registered oracle must return at least one row at
    sf0.001 — the round-7 lesson: the driver-generated testdata's value
    ranges DRIFT between rounds, silently turning predicate contracts
    vacuous (both engines compute the same empty result and the board
    records a green that tests nothing). DuckDB-only, no Spark: this is
    the tripwire, the value comparison lives in compare_oracle."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    import duckdb

    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    tables = ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]
    # one connection per worker thread (duckdb releases the GIL during
    # execution, so the 287 oracle queries run genuinely in parallel —
    # this test was the second-slowest in the suite at ~160 s serial;
    # r12, VERDICT item 2)
    local = threading.local()

    def conn():
        if not hasattr(local, "con"):
            c = duckdb.connect()
            c.execute("SET threads TO 4")
            for t in tables:
                c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
            local.con = c
        return local.con

    def check(item):
        name, sql = item
        try:
            n = conn().execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            return ("zero", name) if n == 0 else None
        except Exception as ex:  # noqa: BLE001 — collect, report all at once
            return ("err", (name, str(ex)[:120]))

    # the pool runs DuckDB only, one connection per thread: no Spark
    # session, so no shared conf and no schema memo to race on
    with ThreadPoolExecutor(max_workers=8) as ex:
        hits = [r for r in ex.map(check, e.oracle_sql().items()) if r]
    errs = [v for k, v in hits if k == "err"]
    zero = [v for k, v in hits if k == "zero"]
    assert not errs, errs
    assert not zero, f"vacuous (0-row) oracles at sf0.001: {zero}"


def test_bench_covers_registry():
    """Every registered contract is benched or on the documented
    multi-fit exclusion list (r7 VERDICT item 3: a query can be
    driver-green yet perf-regress invisibly if bench.py never runs
    it); no exclusion may name an unregistered query."""
    import bench
    import __spark_entry__ as e

    registered = list(e.queries())
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE)), "duplicate bench entries"
    assert bench._FIT_EXCLUDED <= set(registered)
    assert bench.HEADLINE == [n for n in registered if n not in bench._FIT_EXCLUDED]


def test_registry_front50_rotation():
    """Pin the round-12 front-50 composition the registry comment claims
    (the driver samples only the first 50 queries() entries; ADVICE r6
    flagged a comment that drifted from the counted positions): the
    r11-rewritten-but-unsampled paths lead (r11 VERDICT item 5), then
    every path whose code changed in r12, then the remaining streaming
    contracts (whose start path changed). Every registered query must
    also carry an oracle_sql twin."""
    import __spark_entry__ as e

    names = list(e.queries())
    assert len(e._FRONT50) == 50
    assert names[:50] == e._FRONT50
    # block (1): the r11-rewritten set the r11 driver sample missed
    assert names[:13] == [
        "reduce_py", "winnow", "winnow_overlap", "fuzzy_dedup",
        "dedup_report", "edit_dedup", "embed_rp_lsh_recall",
        "embed_ivf_recall", "kmeans", "last_stream", "cms_stream",
        "hll_stream", "count_stream",
    ]
    # block (2): r12 code-changed paths — pin the set so it can't
    # silently shrink or reorder
    assert set(names[13:37]) == {
        "cluster_topics", "coreset_sample", "ivf_index", "ivfpq",
        "pq_encode", "dedup_jaccard", "containment", "dedup_clusters",
        "pagerank", "central_dedup", "dedup_minhash_recall",
        "mm_image_features", "mm_audio_features", "mm_video_features",
        "dedup_simhash", "dedup_simhash_incremental", "substring_dedup",
        "ema_scaled", "running_agg_stream_multibatch", "train_order",
        "sorted_neighborhood", "asof_join", "takewhile_scaled",
        "running_sum_scaled",
    }
    # block (3): the streaming contracts whose _sized_start path changed
    assert all(n.endswith("_stream") for n in names[37:50])
    assert len(set(names)) == len(names) >= 284
    osql = e.oracle_sql()
    missing = [n for n in names if n not in osql]
    assert not missing, f"queries without oracles: {missing}"


def test_streaming_kernels_single_exchange(spark, tmp_path):
    """r10: the streaming lane's scale shape — every stateful kernel
    plans exactly ONE hashpartitioning exchange (the groupBy-key
    shuffle applyInPandasWithState requires) and nothing else; the
    two-input kernels union their sides BEFORE that one exchange. At
    1000 executors the lane's cost is one shuffle per hop, same as the
    batch discipline ('one key exchange per operator chain')."""
    import contextlib
    import io

    from eventkit_spark.sources.tables import load_table
    from eventkit_spark.streaming import file_stream

    d = str(tmp_path / "plan_src")
    load_table(spark, SF, "events").write.mode("overwrite").parquet(d)

    def frame(etype=None):
        sf = file_stream(
            spark, d,
            schema=("event_id long, ts timestamp, user_id long, "
                    "event_type string, value double, props string"),
            value_cols=["value"], ts_col="ts", key_cols=["user_id"],
        )
        if etype:
            sf.df = sf.df.filter(F.col("event_type") == etype)
        return sf

    # the one site that reads plan text: a streaming frame has no
    # executed plan before its query starts (reading it raises
    # AnalysisException), so plan_nodes cannot walk its physical tree
    def plan_text(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain()  # simple mode: each physical node printed once
        return buf.getvalue()

    def n_exchanges(df):
        return plan_text(df).count("Exchange hashpartitioning")

    one_input = {
        "take_budget": lambda s: s.take_budget(100.0),
        "running_agg": lambda s: s.running_agg(ema_n=10),
        "changes": lambda s: s.changes(),
        "take": lambda s: s.take(3),
        "enumerate": lambda s: s.enumerate(),
        "previous": lambda s: s.previous(2),
        "product": lambda s: s.product(),
        "takewhile": lambda s: s.takewhile("value < 100"),
        "debounce_first": lambda s: s.debounce_first(60.0),
        "pairwise": lambda s: s.pairwise(),
        "last": lambda s: s.last(),
    }
    for name, mk in one_input.items():
        n = n_exchanges(mk(frame()))
        assert n == 1, f"{name}: {n} exchanges (want 1)"
    two_input = {
        "zip": lambda: frame("purchase").zip(frame("click")),
        "ziplatest": lambda: frame("purchase").ziplatest(frame("click")),
        "takeuntil": lambda: frame("purchase").takeuntil(frame("error")),
        "sample": lambda: frame("view").sample(frame("error")),
    }
    for name, mk in two_input.items():
        n = n_exchanges(mk())
        assert n == 1, f"{name}: {n} exchanges (want 1)"

    # r11: the native complete-mode sketch aggregations (cms_stream /
    # hll_stream) must plan a PARTIAL HashAggregate below their single
    # exchange — map-side combine collapses every input partition to
    # <= d*w / 2^p rows before any shuffle, which is what makes the
    # sketch lane O(sketch) not O(data) on the wire at 100 TB
    for name, df in {
        "count_min": frame().count_min("event_type", d=4, w=16),
        "hll": frame().hll("event_id", p=9),
    }.items():
        plan = plan_text(df)
        assert plan.count("Exchange hashpartitioning") == 1, name
        below_exchange = plan.split("Exchange hashpartitioning", 1)[1]
        assert "HashAggregate" in below_exchange, (
            f"{name}: no map-side partial aggregate below the exchange"
        )


def test_minhash_dryrun_probe_single_banding_pass(spark):
    """r11 (r10 VERDICT item 3): minhash_dedup_incremental's
    commit=False probe adopts the simhash dry-run shape — the batch
    band/bucket pass is computed ONCE (lazy localCheckpoint) and shared
    by the hits / bucket-competition / status branches, so the probe
    plan reads the batch parquet only for the id column and never for
    text."""
    import tempfile

    from eventkit_spark.llm.dedup import (
        minhash_dedup_incremental,
        minhash_store_init,
    )
    from eventkit_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    path = tempfile.mkdtemp(prefix="ek_mhpin_")
    minhash_store_init(
        docs.filter(F.col("doc_id") % 3 != 0), path,
        num_hashes=32, bands=8, k=3, portable=True,
    )
    res = minhash_dedup_incremental(
        docs.filter(F.col("doc_id") % 3 == 0), path, commit=False
    )
    # the one banding pass is the checkpointed RDD, read per branch
    _assert_probe_reads_ids_once(res, "bucket")
    # and it still answers correctly, identically to the commit form
    dry = {(r["doc_id"], r["status"]) for r in res.collect()}
    path2 = tempfile.mkdtemp(prefix="ek_mhpin2_")
    minhash_store_init(
        docs.filter(F.col("doc_id") % 3 != 0), path2,
        num_hashes=32, bands=8, k=3, portable=True,
    )
    wet = minhash_dedup_incremental(
        docs.filter(F.col("doc_id") % 3 == 0), path2, commit=True
    )
    assert dry == {(r["doc_id"], r["status"]) for r in wet.collect()} and dry


def test_readme_query_count_matches_registry():
    """r11 (r10 VERDICT 'What's wrong'): two rounds in a row left one
    stale hand-synced query count in the prose. Derive, don't sync —
    every 'N queries' claim in README that describes the LIVE registry
    must equal len(queries()). Historical round notes (COVERAGE.md's
    per-round closing states) are records, not claims, and are exempt."""
    import os
    import re

    import __spark_entry__ as e

    n = len(e.queries())
    readme = open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "README.md")
    ).read()
    live_claims = re.findall(
        r"driver contract: (\d+) queries|All (\d+) registered queries", readme
    )
    got = sorted({int(x) for pair in live_claims for x in pair if x})
    assert live_claims, "README no longer states the registry size anywhere"
    assert got == [n], f"README claims {got}, registry has {n}"


def test_plan_facts_only_from_audit():
    """Plan facts come from node classes through ``plans/audit``: a
    ``queryExecution`` read anywhere else is a second plan reader, and a
    string op (``.count``, ``in``, ``splitlines``, ...) or a regex on
    ``physical_plan(...)`` or captured ``explain()`` text is a heuristic
    that a Spark rendering change can flip silently. The one text site
    is the streaming one-exchange check: a streaming frame has no
    executed plan to walk before its query starts."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    ops = {"count", "splitlines", "split", "lower", "upper", "find", "index"}
    bad = set()

    def name(n):
        return getattr(n, "id", None) or getattr(n, "attr", None)

    for path in [*(root / "eventkit_spark").rglob("*.py"),
                 *(root / "scripts").glob("*.py"), *(root / "tests").glob("*.py")]:
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text())
        bad |= {f"queryExecution at {rel}:{n.lineno}" for n in ast.walk(tree)
                if name(n) == "queryExecution" and rel != "eventkit_spark/plans/audit.py"}
        defs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
        site = [range(d.lineno, d.end_lineno + 1) for d in defs if (rel, d.name) == (
            "tests/test_plans.py", "test_streaming_kernels_single_exchange")]
        text_fns = set()
        for scope in defs + defs:  # twice: a text function may call another
            calls = [name(n.func) for n in ast.walk(scope) if isinstance(n, ast.Call)]
            sources = {"physical_plan", *text_fns, *["getvalue"] * ("explain" in calls)}
            names = set()

            def is_text(n):
                return (isinstance(n, ast.Name) and n.id in names) or (
                    isinstance(n, ast.Call) and name(n.func) in sources)

            for n in ast.walk(scope):
                if isinstance(n, ast.Assign) and is_text(n.value):
                    names |= {t.id for t in n.targets if isinstance(t, ast.Name)}
                if isinstance(n, ast.Return) and n.value and is_text(n.value):
                    text_fns.add(scope.name)
            if any(scope.lineno in r for r in site):
                continue
            for n in ast.walk(scope):
                if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and (
                    (n.func.attr in ops and is_text(n.func.value))
                    or (name(n.func.value) == "re" and any(map(is_text, n.args)))
                ):
                    bad.add(f"{n.func.attr}() on plan text at {rel}:{n.lineno}")
                if isinstance(n, ast.Compare) and any(
                    isinstance(op, (ast.In, ast.NotIn)) for op in n.ops
                ) and any(map(is_text, n.comparators)):
                    bad.add(f"'in' on plan text at {rel}:{n.lineno}")
    assert not bad, sorted(bad)
