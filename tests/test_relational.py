"""Relational widening added late in round 4: as-of direction variants,
interval-overlap join, per-group top-k, retention, histogram, plus the
gopher/bm25 corpus scores. Small deterministic frames; the driver
contracts value-check the same ops against DuckDB at SF."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from eventkit_spark.plans.audit import count_shuffles, node_class, plan_expressions


def _lr(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    L = pd.DataFrame({
        "k": rng.integers(0, 3, 120),
        "ts": rng.choice(np.arange(0, 500), size=120, replace=False).astype("int64"),
        "lv": np.arange(120),
    })
    R = pd.DataFrame({
        "k": rng.integers(0, 3, 90),
        "ts": (np.arange(90) * 7 + 3).astype("int64"),  # globally unique ts
        "rv": np.arange(90),
    })
    return L, R, spark.createDataFrame(L), spark.createDataFrame(R)


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@pytest.mark.parametrize("by", [["k"], None])
def test_asof_directions_match_pandas(spark, direction, by):
    from eventkit_spark.operators.relational import asof_join

    L, R, l, r = _lr(spark)
    out = asof_join(l, r, "ts", by=by, right_cols=["rv"], direction=direction,
                    tolerance=40.0).toPandas()
    kw = dict(on="ts", direction=direction, tolerance=40)
    if by:
        kw["by"] = "k"
    exp = pd.merge_asof(
        L.sort_values("ts", kind="mergesort"),
        R.sort_values("ts", kind="mergesort")[(["k"] if by else []) + ["ts", "rv"]],
        **kw,
    )
    a = out.sort_values("lv").reset_index(drop=True)[["k", "ts", "lv", "rv"]]
    b = exp.sort_values("lv").reset_index(drop=True)[["k", "ts", "lv", "rv"]]
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_overlap_join_equals_naive(spark):
    from eventkit_spark.operators.relational import overlap_join

    import numpy as np

    rng = np.random.default_rng(3)
    A = pd.DataFrame({
        "k": rng.integers(0, 2, 60), "aid": np.arange(60),
        "start": rng.integers(0, 300, 60).astype("int64"),
    })
    A["end"] = A["start"] + rng.integers(0, 40, 60)
    B = pd.DataFrame({
        "k": rng.integers(0, 2, 50), "bid": np.arange(50),
        "start": rng.integers(0, 300, 50).astype("int64"),
    })
    B["end"] = B["start"] + rng.integers(0, 40, 50)
    a, b = spark.createDataFrame(A), spark.createDataFrame(B)
    got = (
        overlap_join(a, b, by="k", right_cols=["bid"], bucket_width=16.0)
        .select("aid", "bid").toPandas().sort_values(["aid", "bid"]).reset_index(drop=True)
    )
    m = A.merge(B, on="k", suffixes=("_a", "_b"))
    exp = (
        m[(m.start_a <= m.end_b) & (m.start_b <= m.end_a)][["aid", "bid"]]
        .sort_values(["aid", "bid"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # pair dedup: no (aid, bid) appears twice even though intervals
    # share many bins
    assert not got.duplicated().any()


def test_topk_per_group(spark):
    df = spark.createDataFrame(
        [(g, i, float((i * 37) % 11)) for g in range(4) for i in range(9)],
        "g int, i int, v double",
    )
    from eventkit_spark.operators.relational import topk_per_group

    out = topk_per_group(df, by="g", order_col="v", k=2, tie_cols=["i"]).toPandas()
    assert set(out["rank"]) == {1, 2}
    for g, grp in out.groupby("g"):
        top = sorted(((r.v, -r.i) for r in df.filter(F.col("g") == g).collect()), reverse=True)[:2]
        assert sorted(grp["v"], reverse=True) == [t[0] for t in top]


def test_retention_offsets(spark):
    # user 1 active periods {0, 3}, user 2 {1, 2} -> cohort 0: offsets
    # {0, 3}; cohort 1: offsets {0, 1}
    rows = [(1, 10.0), (1, 90.0), (1, 310.0), (2, 110.0), (2, 115.0), (2, 210.0)]
    df = spark.createDataFrame(rows, "user_id int, t double")
    from eventkit_spark.operators.relational import retention

    out = retention(df, ts_col="t", by="user_id", period=100.0).toPandas()
    got = {(r.cohort, r.offset): r.n_active for r in out.itertuples()}
    assert got == {(0, 0): 1, (0, 3): 1, (1, 0): 1, (1, 1): 1}


def test_histogram_clamps_and_counts(spark):
    df = spark.createDataFrame([(float(x),) for x in [-5, 0, 1, 9.9, 10, 55, 99, 100, 140]], "x double")
    from eventkit_spark.operators.relational import histogram

    out = histogram(df, "x", 0.0, 100.0, nbins=10).toPandas().set_index("bin")
    assert out.loc[0, "n"] == 4  # -5 clamps in, 0, 1, 9.9
    assert out.loc[9, "n"] == 3  # 99; 100 and 140 clamp to last bin
    assert out.loc[5, "n"] == 1
    assert out.loc[0, "lo_val"] == -5.0


def test_gopher_rules_verdicts(spark):
    from eventkit_spark.llm.text import gopher_rules

    good = "the quick brown fox jumps over the lazy dog " * 10
    symbols = "the " + "# " * 60  # symbol ratio >> 0.1
    bullets = "\n".join("- item that is long enough to pass word count" for _ in range(20))
    short = "tiny doc"
    df = spark.createDataFrame(
        [(0, good), (1, symbols), (2, bullets), (3, short)], "doc_id long, text string"
    )
    out = gopher_rules(df, min_words=20, min_stop_hits=1).toPandas().set_index("doc_id")
    assert bool(out.loc[0, "keep"])
    assert not bool(out.loc[1, "keep"])      # symbol ratio
    assert not bool(out.loc[2, "keep"])      # 100% bullet lines
    assert not bool(out.loc[3, "keep"])      # word count
    assert out.loc[2, "n_bullet_lines"] == 20


def test_bm25_prefers_rare_terms(spark):
    from eventkit_spark.llm.sampling import bm25_top_terms

    docs = spark.createDataFrame(
        [(0, "common common rare0"), (1, "common common rare1"), (2, "common rare2 rare2")],
        "doc_id long, text string",
    )
    out = bm25_top_terms(docs, k=1).toPandas().set_index("id")
    # the doc-unique term beats the everywhere-term in every doc
    assert out.loc[0, "term"] == "rare0"
    assert out.loc[1, "term"] == "rare1"
    assert out.loc[2, "term"] == "rare2"


def test_canonical_url_rules(spark):
    from eventkit_spark.llm.web import url_canonicalize

    cases = [
        (0, "HTTP://WWW.Ex.COM:80/A/b/?utm_source=x&q=1#frag", "http://www.ex.com/A/b?q=1", "www.ex.com"),
        (1, "https://u:p@Host.io:443/path/", "https://u:p@host.io/path", "host.io"),
        (2, "https://a.b:8443/x?gclid=1", "https://a.b:8443/x", "a.b"),
        (3, "http://root.site/", "http://root.site/", "root.site"),
        (4, "http://h.co/p?utm_a=1&utm_b=2", "http://h.co/p", "h.co"),
    ]
    df = spark.createDataFrame([(i, u) for i, u, _, _ in cases], "doc_id long, url string")
    out = url_canonicalize(df).toPandas().set_index("doc_id")
    for i, _, canon, host in cases:
        assert out.loc[i, "canonical"] == canon, (i, out.loc[i, "canonical"])
        assert out.loc[i, "host"] == host


def test_host_stats_dup_mass(spark):
    from eventkit_spark.llm.web import host_stats

    df = spark.createDataFrame(
        [(0, "http://a.com/x?utm_source=1"), (1, "http://a.com/x#f"),
         (2, "http://a.com/y"), (3, "http://b.com/z")],
        "doc_id long, url string",
    )
    out = host_stats(df).toPandas().set_index("host")
    assert out.loc["a.com", "n_pages"] == 3
    assert out.loc["a.com", "n_canonical"] == 2  # x (twice) + y
    assert out.loc["a.com", "n_dup"] == 1
    assert out.loc["b.com", "n_dup"] == 0


def test_bigram_logprob_favors_repetition(spark):
    from eventkit_spark.llm.text import bigram_logprob

    # same vocabulary, different transitions: docs 0-5 all follow the
    # corpus-dominant "the cat sat" chain; doc 6 uses the same words in
    # an order the corpus never repeats -> its conditional probs crater
    rows = [(i, "the cat sat") for i in range(6)] + [(6, "sat cat the")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = bigram_logprob(docs).toPandas().set_index("doc_id")
    assert out.loc[0, "avg_logprob"] > out.loc[6, "avg_logprob"]
    assert out.loc[6, "n_bigrams"] == 2


def test_collocations_pmi_ranking(spark):
    from eventkit_spark.llm.text import top_collocations

    # "san francisco" always adjacent (high PMI); "the" pairs with
    # everything (low PMI); min_count drops the one-off pair
    rows = [(i, "the san francisco fog near the bay") for i in range(6)]
    rows += [(6, "rare pair")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = top_collocations(docs, k=10, min_count=5).toPandas()
    assert list(out.iloc[0][["w1", "w2"]]) in (["san", "francisco"], ["francisco", "fog"], ["near", "the"], ["fog", "near"], ["the", "bay"], ["the", "san"])
    got_pairs = set(zip(out.w1, out.w2))
    assert ("rare", "pair") not in got_pairs  # min_count guard
    # adjacent-always pairs outrank pairs involving the stopword "the"
    pmi = {(r.w1, r.w2): r.pmi for r in out.itertuples()}
    assert pmi[("san", "francisco")] > pmi[("the", "san")]


def test_rfm_known_values(spark):
    """Closed-form RFM on a 2-user toy stream; plan = one key aggregate
    + a broadcast 1-row corpus max (no event-stream window)."""
    import datetime as dt

    from eventkit_spark.operators.relational import rfm

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 10.0), (1, t0 + dt.timedelta(seconds=100), 5.5),
        (2, t0 + dt.timedelta(seconds=40), 2.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    got = {r["key"]: r for r in rfm(df).collect()}
    assert got[1]["recency_s"] == 0 and got[1]["frequency"] == 2 and got[1]["monetary"] == 15.5
    assert got[2]["recency_s"] == 60 and got[2]["frequency"] == 1 and got[2]["monetary"] == 2.0
    # key agg + the 1-row corpus-max agg (partial+final) — no window
    assert count_shuffles(rfm(df)) <= 3


def test_twap_known_values(spark):
    """Hand-computed TWAP on a toy stream: user 1 holds 10.0 for 30 s
    then 20.0 for 10 s -> (10*30 + 20*10)/40 = 12.5; the final event
    carries no weight. A duplicate-timestamp interval (dt=0) drops out.
    One key exchange shared by the lead window and the aggregate."""
    import datetime as dt

    from eventkit_spark.operators.relational import twap

    t0 = dt.datetime(2024, 1, 1)
    s = lambda x: t0 + dt.timedelta(seconds=x)
    rows = [
        (1, 1, s(0), 10.0),
        (1, 2, s(30), 20.0),
        (1, 3, s(40), 99.0),        # last: open-ended, no weight
        (2, 4, s(0), 5.0),
        (2, 5, s(0), 7.0),          # dt=0: zero weight, drops out
        (2, 6, s(10), 1.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "value"])
    got = {r["user_id"]: r for r in twap(df).collect()}
    assert got[1]["twap"] == 12.5 and got[1]["n_intervals"] == 2
    # user 2: value 7.0 held 10s (the dt=0 first event contributes 0)
    assert got[2]["twap"] == 7.0 and got[2]["n_intervals"] == 1
    assert count_shuffles(twap(df)) <= 2  # lead window + class agg


def test_interarrival_known_values(spark):
    """Gaps lag WITHIN (user, type) and aggregate ACROSS users per
    type: user 1 clicks at 0/10/40 -> gaps 10s, 30s; user 2 clicks at
    5/20 -> gap 15s. Mean = 55/3 s; max = 30 s; sums exact micros."""
    import datetime as dt

    from eventkit_spark.operators.relational import interarrival

    t0 = dt.datetime(2024, 1, 1)
    s = lambda x: t0 + dt.timedelta(seconds=x)
    rows = [
        (1, 1, s(0), "click"), (1, 2, s(10), "click"), (1, 3, s(40), "click"),
        (1, 4, s(7), "buy"),                      # single event: no gap
        (2, 5, s(5), "click"), (2, 6, s(20), "click"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "event_type"])
    got = {r["event_type"]: r for r in interarrival(df).collect()}
    assert "buy" not in got                        # no gaps -> no row
    c = got["click"]
    assert c["n_gaps"] == 3
    assert c["sum_gap_us"] == 55_000_000
    assert c["max_gap_us"] == 30_000_000
    assert c["mean_gap_s"] == round(55 / 3, 6)


def test_salted_join_equals_plain_join(spark):
    """Salted result == plain join for inner AND left joins, with an
    explicit skewed hot key; the hot branch replicates the right slice
    (explode visible in the plan) while cold keys take the plain path."""
    from pyspark.sql import functions as F

    from eventkit_spark.operators.relational import salted_join

    left = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, 900), (3, 901), (4, 902)],
        ["k", "lv"],
    )
    right = spark.createDataFrame(
        [(1, "hot"), (2, "a"), (3, "b"), (5, "miss")], ["k", "rv"]
    )
    hot = spark.createDataFrame([(1,)], ["k"])
    for how in ("inner", "left"):
        got = salted_join(left, right, "k", how=how, salt=4, hot_keys=hot)
        want = left.join(right, "k", how)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    salted = salted_join(left, right, "k", salt=4, hot_keys=hot)
    assert "Explode" in {node_class(x) for x in plan_expressions(salted)}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="salt"):
        salted_join(left, right, "k", salt=1)
    with _pytest.raises(ValueError, match="how"):
        salted_join(left, right, "k", how="full")


def test_attribution_last_touch_semantics(spark):
    """Same-ts touch credits (as-of <=), highest-seq wins among ties,
    lookback excludes stale touches, unattributed conversions survive
    with NULLs."""
    from datetime import datetime

    from eventkit_spark.operators.relational import attribution

    T = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # user 1: touch at 1s and two ties at 3s; conversions at 3s, 10s
        (1, 1, T(1), "click"),
        (2, 1, T(3), "click"),
        (3, 1, T(3), "click"),   # tie: higher event_id wins
        (4, 1, T(3), "purchase"),  # same-ts touch counts
        (5, 1, T(10), "purchase"),
        # user 2: touch far outside lookback, then conversion
        (6, 2, T(1), "click"),
        (7, 2, T(50), "purchase"),
        # user 3: conversion with no touch at all
        (8, 3, T(5), "purchase"),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"])
    out = {
        r["conv_id"]: r
        for r in attribution(
            ev,
            touch="event_type = 'click'",
            conversion="event_type = 'purchase'",
            lookback=20.0,
        ).collect()
    }
    assert out[4]["touch_id"] == 3 and out[4]["delta_us"] == 0
    assert out[5]["touch_id"] == 3 and out[5]["delta_us"] == 7_000_000
    assert out[7]["touch_id"] is None and out[7]["delta_us"] is None  # 49s > 20s
    assert out[8]["touch_id"] is None
    # no lookback: user 2's stale click now credits
    out2 = {
        r["conv_id"]: r
        for r in attribution(
            ev, touch="event_type = 'click'", conversion="event_type = 'purchase'"
        ).collect()
    }
    assert out2[7]["touch_id"] == 6 and out2[7]["delta_us"] == 49_000_000


def test_multi_touch_credits_sum_to_unit(spark):
    """Every conversion's credits sum to exactly 1e6 ppm (remainder on
    the last touch); positions flag first/last; out-of-window touches
    never appear."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from eventkit_spark.operators.relational import multi_touch

    T = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        (1, 1, T(1), "click"),
        (2, 1, T(2), "click"),
        (3, 1, T(3), "click"),
        (4, 1, T(4), "purchase"),   # 3 touches -> 333333/333333/333334
        (5, 2, T(1), "click"),
        (6, 2, T(40), "purchase"),  # touch outside 20s window
        (7, 3, T(10), "click"),
        (8, 3, T(11), "purchase"),  # single touch -> 1000000
    ]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"])
    out = multi_touch(
        ev, "event_type = 'click'", "event_type = 'purchase'", lookback=20.0
    )
    rowsb = out.collect()
    by_conv = {}
    for r in rowsb:
        by_conv.setdefault(r["conv_id"], []).append(r)
    assert set(by_conv) == {4, 8}  # conversion 6 has no in-window touch
    c4 = sorted(by_conv[4], key=lambda r: r["touch_id"])
    assert [r["credit_ppm"] for r in c4] == [333333, 333333, 333334]
    assert sum(r["credit_ppm"] for r in c4) == 1_000_000
    assert c4[0]["is_first"] and not c4[0]["is_last"]
    assert c4[2]["is_last"] and c4[2]["n_touches"] == 3
    assert by_conv[8][0]["credit_ppm"] == 1_000_000
    assert by_conv[8][0]["delta_us"] == 1_000_000  # 1s gap


def test_tnum_four_flavors(spark):
    """_tnum must be identity for numerics (including epoch-micros longs
    far past the timestamp range — cast(timestamp) saturates there) and
    epoch seconds for timestamps of either flavor."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from eventkit_spark.operators.relational import _tnum

    df = spark.createDataFrame(
        [(5.0, 1_700_000_000_000_000, datetime(2024, 1, 2, 3, 4, 5, 123456))],
        ["small", "micros", "ts"],
    )
    df = df.withColumn("ntz", F.col("ts").cast("timestamp_ntz"))
    r = df.select(
        _tnum(F.col("small")).alias("a"),
        _tnum(F.col("micros")).alias("b"),
        _tnum(F.col("ts")).alias("c"),
        _tnum(F.col("ntz")).alias("d"),
    ).collect()[0]
    assert r["a"] == 5.0
    assert r["b"] == 1.7e15  # NOT the saturated timestamp max
    assert abs(r["c"] - 1704164645.123456) < 1e-5
    assert r["c"] == r["d"]


def test_bootstrap_ci_brackets_mean(spark):
    """CIs bracket the point mean, widen for noisier groups, and are
    deterministic across invocations; bad quantile bounds raise."""
    import random

    from eventkit_spark.operators.relational import bootstrap_ci

    rng = random.Random(3)
    rows = [(i, "tight", 100.0 + rng.uniform(-1, 1)) for i in range(300)]
    rows += [(1000 + i, "wide", 100.0 + rng.uniform(-50, 50)) for i in range(300)]
    df = spark.createDataFrame(rows, ["event_id", "g", "value"])
    out = {r["g"]: r for r in bootstrap_ci(df, "value", by="g").collect()}
    for g in ("tight", "wide"):
        r = out[g]
        assert r["ci_lo"] <= r["mean"] <= r["ci_hi"], r
    w_tight = out["tight"]["ci_hi"] - out["tight"]["ci_lo"]
    w_wide = out["wide"]["ci_hi"] - out["wide"]["ci_lo"]
    assert w_wide > 3 * w_tight
    again = {r["g"]: r for r in bootstrap_ci(df, "value", by="g").collect()}
    assert again == out

    import pytest as _pytest

    with _pytest.raises(ValueError, match="lo"):
        bootstrap_ci(df, "value", by="g", lo=0.9, hi=0.1)


def test_ab_lift_detects_real_lift(spark):
    """A +10 shift is flagged significant with CI bracketing the true
    lift; identical arms are not significant."""
    import random

    from eventkit_spark.operators.relational import ab_lift

    rng = random.Random(5)
    rows = [(i, "t", 110.0 + rng.uniform(-5, 5)) for i in range(400)]
    rows += [(1000 + i, "c", 100.0 + rng.uniform(-5, 5)) for i in range(400)]
    df = spark.createDataFrame(rows, ["event_id", "arm", "value"])
    r = ab_lift(df, "value", "arm", treat="t", control="c").collect()[0]
    assert r["significant"]
    assert r["ci_lo"] <= r["lift"] <= r["ci_hi"]
    assert 8.0 < r["lift"] < 12.0 and r["ci_lo"] > 5.0

    # null experiment: both arms drawn from the same distribution
    rows0 = [(i, "t" if i % 2 else "c", 100.0 + rng.uniform(-5, 5)) for i in range(800)]
    df0 = spark.createDataFrame(rows0, ["event_id", "arm", "value"])
    r0 = ab_lift(df0, "value", "arm", treat="t", control="c").collect()[0]
    assert not r0["significant"]


def test_cuped_reduces_variance_with_predictive_covariate(spark):
    """With y = x + small noise + arm shift, CUPED recovers the true
    lift, theta ~ 1, and variance reduction is near corr^2 ~ 100%;
    a useless covariate leaves the estimate unadjusted."""
    import random

    from eventkit_spark.operators.relational import cuped

    rng = random.Random(11)
    rows = []
    for i in range(500):
        x = rng.uniform(50, 150)
        arm = "t" if i % 2 == 0 else "c"
        y = x + rng.uniform(-1, 1) + (5.0 if arm == "t" else 0.0)
        rows.append((i, arm, x, y))
    df = spark.createDataFrame(rows, ["uid", "arm", "x", "y"])
    r = cuped(df, "y", "x", "arm", treat="t", control="c").collect()[0]
    assert 4.5 < r["lift_cuped"] < 5.5
    assert 0.95 < r["theta"] < 1.05
    assert r["var_reduction_pct"] > 95.0
    # lift_raw is noisier but same expectation; both should be in range
    assert 2.0 < r["lift_raw"] < 8.0

    # zero-variance covariate: theta and reduction collapse to 0
    df0 = df.withColumn("x", df.x * 0)
    r0 = cuped(df0, "y", "x", "arm", treat="t", control="c").collect()[0]
    assert r0["theta"] == 0.0 and r0["var_reduction_pct"] == 0.0
    assert r0["lift_cuped"] == r0["lift_raw"]


def test_bootstrap_mixer_survives_large_seq_ids(spark):
    """ANSI-overflow regression: seq ids >= ~54M made the old mixer's
    first multiply exceed int64 (v*2654435761 with v = id*64 + b),
    raising ARITHMETIC_OVERFLOW under Spark 4's default ANSI mode.
    The 31-bit input fold keeps every intermediate < 2^62 with values
    unchanged mod 2^31."""
    from pyspark.sql import functions as F

    from eventkit_spark.operators.relational import _mix31, bootstrap_ci

    df = spark.range(200).select(
        (F.col("id") + F.lit(60_000_000)).alias("event_id"),
        F.lit("g").alias("g"),
        (F.col("id") % 7).cast("double").alias("value"),
    )
    out = bootstrap_ci(df, "value", by="g", seq_col="event_id").collect()
    assert len(out) == 1 and out[0]["ci_lo"] <= out[0]["mean"] <= out[0]["ci_hi"]
    # the fold is value-preserving where the old form did not overflow
    small = spark.range(1000).select(
        _mix31(F.col("id")).alias("a"),
        (
            (
                F.shiftright((F.col("id") * 2654435761) % F.lit(1 << 31), 15)
                .bitwiseXOR((F.col("id") * 2654435761) % F.lit(1 << 31))
                * 2246822519
            )
            % F.lit(1 << 31)
        ).alias("b"),
    )
    assert small.filter("a <> b").count() == 0


def test_unkeyed_asof_bounds_memoized(spark):
    """Re-constructing the same unkeyed as-of join must not re-run the
    plan-time quantile job — the memo keys on the analyzed plan's
    semantic hash, so pipeline fan-out builds pay the sketch once."""
    from pyspark.sql import functions as F

    from eventkit_spark.operators import common
    from eventkit_spark.operators.relational import asof_join

    left = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2.0).alias("ts"))
    right = spark.range(50).select((F.col("id") * 4.0).alias("ts"), F.col("id").alias("q"))
    common._RANGE_BOUNDS_CACHE.clear()
    tracker = spark.sparkContext.statusTracker()
    out1 = asof_join(left, right, "ts", right_cols=["q"], partitions=4)
    jobs_after_first = len(tracker.getJobIdsForGroup(None) or [])
    assert len(common._RANGE_BOUNDS_CACHE) == 1
    out2 = asof_join(left, right, "ts", right_cols=["q"], partitions=4)
    jobs_after_second = len(tracker.getJobIdsForGroup(None) or [])
    assert jobs_after_second == jobs_after_first, "second construction ran a job"
    # and the two constructions agree
    assert sorted(map(tuple, out1.collect())) == sorted(map(tuple, out2.collect()))


def test_bounds_memo_invalidates_on_new_files(tmp_path, spark):
    """Appending files to a parquet-backed stream must refresh the
    memoized range boundaries: the analyzed plan's semantic hash does
    not change when new files land at the same path, so the memo also
    fingerprints the scan's file listing — otherwise a long-lived
    session would range-partition tomorrow's (larger) seq domain with
    day-one quantiles and silently collapse the scaled path's
    parallelism."""
    from pyspark.sql import functions as F

    from eventkit_spark.operators import common

    p = str(tmp_path / "grow")
    spark.range(0, 1000).select(F.col("id").cast("double").alias("__t")).write.parquet(p)
    common._RANGE_BOUNDS_CACHE.clear()
    b1 = common.memo_range_bounds(spark.read.parquet(p), 4)
    assert len(common._RANGE_BOUNDS_CACHE) == 1
    # same listing -> memo hit (no new entry, same object)
    assert common.memo_range_bounds(spark.read.parquet(p), 4) is b1
    # new file with a 100x larger domain -> new key, fresh quantiles
    spark.range(1000, 100000).select(
        F.col("id").cast("double").alias("__t")
    ).write.mode("append").parquet(p)
    b2 = common.memo_range_bounds(spark.read.parquet(p), 4)
    assert len(common._RANGE_BOUNDS_CACHE) == 2
    assert max(b2) > max(b1), "stale day-one boundaries survived ingest"


def test_pivot_agg_null_pivot_key_counted_in_other(spark):
    """Regression (r6 advice): NULL pivot values used to vanish from
    both the declared columns and n_other (~isin is NULL for NULL);
    they now land in n_other, honoring 'nothing silently disappears'."""
    from eventkit_spark.operators.relational import pivot_agg

    df = spark.createDataFrame(
        [(1, "a", 1.0), (1, None, 2.0), (1, "zz", 3.0), (2, "b", 4.0)],
        "k long, p string, value double",
    )
    got = {r["k"]: r["n_other"] for r in
           pivot_agg(df, "k", "p", ["a", "b"]).collect()}
    assert got == {1: 2, 2: 0}


def test_seasonal_decompose_matches_model(spark):
    """Classical additive decomposition vs a direct Python model (even
    period -> 2xMA endpoint halving), exact-zero residuals on a
    noise-free linear+periodic series, NULL trend at the edges, and
    normalize=True re-centering the seasonal to zero mean."""
    import collections

    from eventkit_spark.operators.relational import seasonal_decompose

    rows = []
    for k in ("a", "b"):
        for i in range(40):
            v = 10 + 0.5 * i + [3, -1, -2, 0][i % 4] + (1 if k == "b" else 0)
            rows.append((k, i, float(v)))
    df = spark.createDataFrame(rows, "k string, i long, value double")
    res = seasonal_decompose(df, "i", "value", period=4, by="k").collect()

    def model(vals, p):
        n, half = len(vals), p // 2
        cents = [round(v * 100) for v in vals]
        tden = 2 * p
        tnum = [None] * n
        for t in range(n):
            lo, hi = t - half, t + half
            if lo < 0 or hi >= n:
                continue
            tnum[t] = sum(cents[lo:hi + 1]) + sum(cents[lo + 1:hi])
        snum = collections.defaultdict(int)
        sn = collections.defaultdict(int)
        for t in range(n):
            if tnum[t] is None:
                continue
            snum[t % p] += cents[t] * tden - tnum[t]
            sn[t % p] += 1
        seas = {ph: snum[ph] / (sn[ph] * tden * 100) for ph in snum}
        out = []
        for t in range(n):
            v = cents[t] / 100
            if tnum[t] is None:
                out.append((t, round(v, 6), None, None, None))
                continue
            tr, s = tnum[t] / (tden * 100), seas[t % p]
            out.append((t, round(v, 6), round(tr, 6), round(s, 6),
                        round(v - tr - s, 6)))
        return out

    for k in ("a", "b"):
        exp = sorted(model([r[2] for r in rows if r[0] == k], 4))
        got = sorted((r["i"], r["value"], r["trend"], r["seasonal"],
                      r["resid"]) for r in res if r["k"] == k)
        assert got == exp, k

    interior = [r for r in res if r["resid"] is not None]
    assert interior and all(r["resid"] == 0.0 for r in interior)
    edges = [r for r in res if r["k"] == "a" and r["trend"] is None]
    assert len(edges) == 4  # period//2 at each end

    resn = seasonal_decompose(df, "i", "value", period=4, by="k",
                              normalize=True).collect()
    sa = {r["seasonal"] for r in resn if r["k"] == "a"
          and r["seasonal"] is not None}
    assert abs(sum(sa)) < 1e-6
