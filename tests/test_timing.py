"""Event-time timing tests, mirroring /root/reference/tests/timing_test.py
re-based on deterministic ts columns (FIXTURES.md: no wall-clock sleeps)."""

import pytest


def test_delay(spark):
    from eventkit_spark.sources.create import sequence

    ef = sequence(spark, [1, 2, 3], interval=1.0)
    d = ef.delay(0.5)
    ts0 = [r["ts"] for r in ef.df.orderBy("seq").collect()]
    ts1 = [r["ts"] for r in d.df.orderBy("seq").collect()]
    assert all((b - a).total_seconds() == pytest.approx(0.5) for a, b in zip(ts0, ts1))
    assert d.to_list() == [1, 2, 3]


def test_timeout(spark):
    from eventkit_spark.sources.create import sequence

    # gaps: 1,1,5,1 -> cut before the 5s gap
    ef = sequence(spark, [10, 11, 12, 13, 14], times=[0, 1, 2, 7, 8])
    assert ef.timeout(2.0).to_list() == [10, 11, 12]


def test_debounce_on_first(spark):
    from eventkit_spark.sources.create import sequence

    # bursts: [0,.1,.2], [5,5.1], [9]
    ef = sequence(spark, [1, 2, 3, 4, 5, 6], times=[0, 0.1, 0.2, 5.0, 5.1, 9.0])
    assert ef.debounce(1.0, on_first=True).to_list() == [1, 4, 6]


def test_debounce_on_last(spark):
    from eventkit_spark.sources.create import sequence

    ef = sequence(spark, [1, 2, 3, 4, 5, 6], times=[0, 0.1, 0.2, 5.0, 5.1, 9.0])
    out = ef.debounce(1.0)
    assert out.to_list() == [3, 5, 6]
    # re-stamped one interval later (reference emits at time+interval)
    ts = [r["ts"] for r in out.df.orderBy("seq").collect()]
    rel = [(t - ts[0]).total_seconds() for t in ts]
    assert rel == pytest.approx([0.0, 4.9, 8.8])


def test_sample(spark):
    from eventkit_spark.sources.create import sequence

    src = sequence(spark, [10, 20, 30], times=[0.0, 1.0, 2.5])
    tick = sequence(spark, ["t"] * 4, times=[0.5, 1.5, 2.0, 3.0])
    got = src.sample(tick).to_list()
    assert got == [10, 20, 20, 30]


def test_sample_before_first_value(spark):
    from eventkit_spark.sources.create import sequence

    src = sequence(spark, [10], times=[1.0])
    tick = sequence(spark, ["t"] * 3, times=[0.5, 1.5, 2.0])
    # no emit before the source's first value (timing.py:201-203 guard)
    assert src.sample(tick).to_list() == [10, 10]


def test_chunkwith(spark):
    from eventkit_spark.sources.create import sequence

    src = sequence(spark, [1, 2, 3, 4, 5], times=[0.1, 0.2, 1.1, 2.5, 2.6])
    tick = sequence(spark, ["t"] * 3, times=[1.0, 2.0, 3.0])
    got = src.chunkwith(tick).to_list()
    assert got == [[1, 2], [3], [4, 5]]
    got2 = sequence(spark, [1], times=[0.1]).chunkwith(tick).to_list()
    assert got2 == [[1], [], []]


def test_timeout_sentinel(spark):
    from eventkit_spark.sources.create import sequence

    ef = sequence(spark, [10, 11, 12, 13], times=[0, 1, 7, 8])
    out = ef.timeout(2.0, emit_sentinel=True)
    rows = out.df.orderBy("seq").collect()
    # prefix [10, 11] + one NULL sentinel at last_ts + timeout
    assert [r["value"] for r in rows] == [10, 11, None]
    assert (rows[2]["ts"] - rows[1]["ts"]).total_seconds() == pytest.approx(2.0)
    # no sentinel when no gap exceeds the budget
    ok = sequence(spark, [1, 2], times=[0, 1]).timeout(2.0, emit_sentinel=True)
    assert ok.to_list() == [1, 2]


def test_throttle_cost_expr_and_status(spark):
    from pyspark.sql import functions as F
    from eventkit_spark.sources.create import sequence

    # costs 1,3,1,1 with budget 3/sec: row1(c1)@0; row2(c3) must wait
    # for row1 to expire -> t=1; rows 3,4 queue behind
    ef = sequence(spark, [1, 2, 3, 4], times=[0.0] * 4)
    out = ef.throttle(maximum=3, interval=1.0,
                      cost_expr=F.when(F.col("value") == 2, 3.0).otherwise(1.0),
                      status=True)
    rows = out.df.orderBy("seq").collect()
    rel = [(r["ts"] - rows[0]["ts"]).total_seconds() for r in rows]
    assert rel == pytest.approx([0.0, 1.0, 2.0, 2.0])
    assert [r["throttled"] for r in rows] == [False, True, True, True]


def test_throttle(spark):
    from eventkit_spark.sources.create import sequence

    # 6 rows at t=0, budget 2 per 1s -> pairs emitted at 0,1,2
    ef = sequence(spark, [1, 2, 3, 4, 5, 6], times=[0.0] * 6)
    out = ef.throttle(maximum=2, interval=1.0)
    ts = [r["ts"] for r in out.df.orderBy("seq").collect()]
    rel = [(t - ts[0]).total_seconds() for t in ts]
    assert rel == pytest.approx([0.0, 0.0, 1.0, 1.0, 2.0, 2.0])
    assert out.to_list() == [1, 2, 3, 4, 5, 6]


def test_throttle_set_limit(spark):
    """Dynamic limit change (reference timing.py:124-131 set_limit): a
    budget raise at t=25 releases the whole queued backlog immediately;
    a waiting row jumps FORWARD to the change time instead of the old
    window expiry."""
    import datetime as dt

    from eventkit_spark.sources.create import sequence

    ef = sequence(spark, list(range(10)), times=[float(i) for i in range(10)])
    base = ef.df.agg({"ts": "min"}).collect()[0][0]
    change_at = base + dt.timedelta(seconds=25)
    out = ef.throttle(maximum=1, interval=10.0,
                      limit_changes=[(change_at, 100, 10.0)])
    ts = [r["ts"] for r in out.df.orderBy("seq").collect()]
    rel = [(t - base).total_seconds() for t in ts]
    # budget 1/10s -> 0, 10, 20; then the raise at 25 drains the rest
    assert rel == pytest.approx([0, 10, 20, 25, 25, 25, 25, 25, 25, 25])


def test_sessionize_gap_labels(spark):
    """Inactivity-gap sessionization: ids start at 0 per key, a gap
    strictly greater than `gap` starts a new session, equal-gap rows
    stay in-session."""
    from eventkit_spark.sources.create import sequence

    # times: bursts [0, 1, 2], [10, 11], [30]  with gap=5
    ef = sequence(spark, list(range(6)), times=[0, 1, 2, 10, 11, 30])
    out = ef.sessionize(5.0)
    rows = out.df.orderBy("seq").select("value", "session").collect()
    assert [(r["value"], r["session"]) for r in rows] == [
        (0, 0), (1, 0), (2, 0), (3, 1), (4, 1), (5, 2)
    ]
    # exactly-gap boundary stays in session (strict >)
    ef2 = sequence(spark, [0, 1], times=[0, 5])
    assert [r["session"] for r in ef2.sessionize(5.0).df.orderBy("seq").collect()] == [0, 0]


def test_resample_ohlc(spark):
    from eventkit_spark.sources.create import sequence

    # values at t=0..5; buckets of 2s -> [10,11],[12,13],[14,15]
    ef = sequence(spark, [10, 14, 12, 13, 11, 15], times=[0, 1, 2, 3, 4, 5])
    out = ef.resample(2.0).orderBy("bucket").collect()
    assert [(r["open"], r["high"], r["low"], r["close"], r["n"]) for r in out] == [
        (10, 14, 10, 14, 2), (12, 13, 12, 13, 2), (11, 15, 11, 15, 2)
    ]
    assert [r["vsum"] for r in out] == [24.0, 25.0, 26.0]


def test_rolling_time_window(spark):
    from eventkit_spark.sources.create import sequence

    # trailing 2s inclusive window over t=0,1,2,5
    ef = sequence(spark, [1, 2, 4, 8], times=[0, 1, 2, 5])
    rows = ef.rolling(2.0).df.orderBy("seq").collect()
    assert [r["roll_sum"] for r in rows] == [1, 3, 7, 8]
    assert [r["roll_n"] for r in rows] == [1, 2, 3, 1]
    # min_periods gates early rows to NULL
    rows2 = ef.rolling(2.0, min_periods=2).df.orderBy("seq").collect()
    assert [r["roll_sum"] for r in rows2] == [None, 3, 7, None]


def test_anomaly_known_spike(spark):
    """A flat series with one spike: only the spike row is flagged; the
    warm-up row (roll_n=1) and zero-variance rows stay NULL/false."""
    import datetime as dt

    from eventkit_spark.sources.tables import from_dataframe

    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0 + dt.timedelta(seconds=10 * i), 1, float(v))
            for i, v in enumerate([5.0, 5.0, 5.0, 5.0, 50.0, 5.0])]
    df = spark.createDataFrame(rows, ["seq", "ts", "k", "value"])
    ef = from_dataframe(df, value_cols=["value"], seq_col="seq", ts_col="ts", key_cols=["k"])
    got = {r["seq"]: r for r in ef.anomaly(1000.0, z=2.0).df.collect()}
    assert got[0]["zscore"] is None and not got[0]["is_anomaly"]
    assert got[1]["zscore"] is None  # zero variance -> no score
    # closed form: mean=14, pop-std=18 -> z = (50-14)/18 = 2.0 exactly
    assert got[4]["is_anomaly"] and got[4]["zscore"] == 2.0
    assert not got[5]["is_anomaly"]  # spike inflates trailing std


def test_cusum_known_recurrence_and_reset(spark):
    """Closed-form CUSUM on a drift step: accumulators build exactly as
    the recurrence says, the alarm fires once, and reset zeroes the
    carried state so the next row starts fresh."""
    import datetime as dt

    from eventkit_spark.sources.tables import from_dataframe

    t0 = dt.datetime(2024, 1, 1)
    vals = [10.0, 10.0, 16.0, 16.0, 16.0, 10.0]
    rows = [(i, t0 + dt.timedelta(seconds=i), 1, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["seq", "ts", "k", "value"])
    ef = from_dataframe(df, value_cols=["value"], seq_col="seq", ts_col="ts", key_cols=["k"])
    # target 10, slack 1, h 9: hi = 0, 0, 5, 10(alarm -> state reset),
    # 5 (fresh accumulation), 4 (on-target row decays by slack only)
    got = {r["seq"]: r for r in ef.cusum(10.0, h=9.0, slack=1.0).df.collect()}
    assert [got[i]["cusum_hi"] for i in range(6)] == [0.0, 0.0, 5.0, 10.0, 5.0, 4.0]
    assert [got[i]["alarm"] for i in range(6)] == [False, False, False, True, False, False]


def test_rollup_cascade_matches_direct_and_scans_once(spark):
    """Day cells built FROM HOUR CELLS must equal day cells aggregated
    directly from the raw stream (the OHLC cell algebra is lossless),
    and the whole cascade must scan the fact source exactly once."""
    from pyspark.sql import functions as F

    from eventkit_spark.plans.audit import node_counts
    from eventkit_spark.sources.tables import load_events

    ev = load_events(spark, "/root/testdata/sf0.001")
    ef = ev._with(
        df=ev.df.withColumn("value", F.round(F.col("value") * 100, 0).cast("long"))
    )
    cascade = ef.rollup_cascade(levels=(3600.0, 86400.0))
    day_from_hours = {
        (r["user_id"], r["bucket"]): (r["open"], r["high"], r["low"], r["close"], r["n"], r["vsum"])
        for r in cascade.filter(F.col("level") == 86400.0).collect()
    }
    day_direct = {
        (r["user_id"], r["bucket"]): (r["open"], r["high"], r["low"], r["close"], r["n"], r["vsum"])
        for r in ef.resample(86400.0).collect()
    }
    assert day_from_hours == day_direct and len(day_direct) > 0
    # one fact scan at runtime: the finest cells persist, the day level
    # re-aggregates the cached cells, not events (Catalyst does not
    # reuse the aggregate across union branches by itself — verified)
    cascade.write.mode("overwrite").format("noop").save()
    # both union branches read the SAME cached cell relation (the walk
    # also visits the cached plan under each in-memory scan, so count
    # in-memory scans, not file scans)
    assert node_counts(cascade)["InMemoryTableScanExec"] == 2
    # fully-lazy variant trades that for one fact scan per level (clear
    # the cache first: Spark's cache manager substitutes the persisted
    # cells into ANY logically-matching plan, including this one)
    spark.catalog.clearCache()
    lazy = ef.rollup_cascade(levels=(3600.0, 86400.0), materialize=False)
    lazy_nodes = node_counts(lazy)
    assert not lazy_nodes["InMemoryTableScanExec"]
    assert lazy_nodes["FileSourceScanExec"] >= 2
    # nesting guard
    import pytest as _pytest

    with _pytest.raises(ValueError, match="multiple"):
        ef.rollup_cascade(levels=(3600.0, 5000.0))


def test_holt_recurrence_model(spark):
    """Batch holt vs a pure-Python replay of the coupled recurrence,
    including the level=x/trend=0 seed and multi-key independence."""
    from eventkit_spark.sources.tables import from_dataframe

    rows = []
    vals = {0: [10.0, 12.0, 11.0, 15.0, 14.5], 1: [100.0, 90.0, 80.0]}
    i = 0
    for u, xs in vals.items():
        for x in xs:
            rows.append((i, u, x))
            i += 1
    df = spark.createDataFrame(rows, ["event_id", "user_id", "value"])
    ef = from_dataframe(df, value_cols=["value"], seq_col="event_id",
                        ts_col=None, key_cols=["user_id"])
    got = {
        (r["user_id"], r["event_id"]): (r["level"], r["trend"], r["forecast"])
        for r in ef.holt(alpha=0.5, beta=0.3).df.collect()
    }
    a, b = 0.5, 0.3
    i = 0
    for u, xs in vals.items():
        l = t = None
        for x in xs:
            if l is None:
                l, t = x, 0.0
            else:
                nl = a * x + (1.0 - a) * (l + t)
                t = b * (nl - l) + (1.0 - b) * t
                l = nl
            lv, tr, fc = got[(u, i)]
            assert abs(lv - l) < 1e-6 and abs(tr - t) < 1e-6
            assert abs(fc - (l + t)) < 1e-6
            i += 1


def test_kalman1d_model(spark):
    """Batch kalman1d vs a pure-Python replay: converging gain, seeded
    x=z/p=p0, per-key independence."""
    from eventkit_spark.sources.tables import from_dataframe

    rows = []
    vals = {0: [10.0, 12.0, 9.0, 11.0, 30.0], 1: [5.0, 5.0, 5.0]}
    i = 0
    for u, xs in vals.items():
        for x in xs:
            rows.append((i, u, x))
            i += 1
    df = spark.createDataFrame(rows, ["event_id", "user_id", "value"])
    ef = from_dataframe(df, value_cols=["value"], seq_col="event_id",
                        ts_col=None, key_cols=["user_id"])
    got = {
        (r["user_id"], r["event_id"]): (r["kf_x"], r["kf_p"], r["kf_gain"])
        for r in ef.kalman1d(q=0.01, r=1.0, p0=1.0).df.collect()
    }
    i = 0
    for u, xs in vals.items():
        x = p = None
        for z in xs:
            if x is None:
                x, p, k = z, 1.0, 0.0
            else:
                pm = p + 0.01
                k = pm / (pm + 1.0)
                x = x + k * (z - x)
                p = (1.0 - k) * pm
            gx, gp, gk = got[(u, i)]
            assert abs(gx - x) < 1e-6 and abs(gp - p) < 1e-6 and abs(gk - k) < 1e-6
            i += 1
    # gain decreases toward the steady state as variance shrinks
    gains = [got[(0, j)][2] for j in range(1, 5)]
    assert all(g > 0 for g in gains) and gains[0] > gains[-1]


def _null_key_frame(spark):
    """Rows keyed [1, NULL, 1, NULL, 1, NULL, 2, NULL, 2, 1, NULL, 2],
    one second apart, one NULL value."""
    import datetime as dt

    from eventkit_spark.sources.tables import from_dataframe

    keys = [1, None, 1, None, 1, None, 2, None, 2, 1, None, 2]
    vals = [5.0, 10.0, 5.0, 30.0, None, 50.0, 7.0, 2.0, 1.0, 4.0, 8.0, 3.0]
    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0 + dt.timedelta(seconds=i), k, v)
            for i, (k, v) in enumerate(zip(keys, vals))]
    df = spark.createDataFrame(rows, "seq long, ts timestamp, k long, value double")
    return df, lambda d, key_cols: from_dataframe(
        d, value_cols=["value"], seq_col="seq", ts_col="ts", key_cols=key_cols
    )


NULL_KEY_KERNELS = {
    "ema_exact": lambda ef: ef.ema_exact(n=3),
    "throttle": lambda ef: ef.throttle(maximum=1, interval=3600.0, status=True),
    "cusum": lambda ef: ef.cusum(0.0, h=1000.0),
    "holt": lambda ef: ef.holt(),
    "kalman1d": lambda ef: ef.kalman1d(),
    # a Python conditional has no Column form: the fold runs in the lane
    "reduce": lambda ef: ef.reduce(lambda a, x: a + (0.0 if x != x else x), initializer=0.0),
}


def test_recurrences_group_null_keys(spark):
    """NULL keys are ONE key in every sequential kernel, as in groupBy
    and the streaming state store: each kernel's keyed output equals
    a replay that runs it keyless on every groupBy group (NULL-safe
    filter). Before, cusum/holt/kalman1d/throttle started a fresh key
    on every NULL-key row of a numeric key column."""
    from pyspark.sql import functions as F

    df, frame = _null_key_frame(spark)
    for name, op in NULL_KEY_KERNELS.items():
        got = {r["seq"]: tuple(r) for r in op(frame(df, ["k"])).df.collect()}
        want = {}
        for g in (1, 2, None):
            sub = df.filter(F.col("k").eqNullSafe(F.lit(g).cast("long")))
            want.update({r["seq"]: tuple(r) for r in op(frame(sub, [])).df.collect()})
        assert got == want and len(got) == 12, name
    null_rows = [1, 3, 5, 7, 10]
    cus = {r["seq"]: r for r in NULL_KEY_KERNELS["cusum"](frame(df, ["k"])).df.collect()}
    assert [cus[s]["cusum_hi"] for s in null_rows] == [10.0, 40.0, 90.0, 92.0, 100.0]
    thr = {r["seq"]: r for r in NULL_KEY_KERNELS["throttle"](frame(df, ["k"])).df.collect()}
    t0 = thr[1]["ts"]
    assert [(thr[s]["ts"] - t0).total_seconds() for s in null_rows] == [
        0.0, 3600.0, 7200.0, 10800.0, 14400.0
    ]
    assert [thr[s]["throttled"] for s in null_rows] == [False, True, True, True, True]


def test_sort_within_partitions_only_in_the_lane():
    """Every per-key sequential scan of the package goes through
    state.py's ``_keyed_scan``: a ``sortWithinPartitions(`` call
    anywhere else (bar the Z-order file layout) is a new copy of the
    keyed-scan scaffolding, with its own NULL-key and batch-split
    rules to drift."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "eventkit_spark"
    bad = []

    class Calls(ast.NodeVisitor):
        def __init__(self, rel):
            self.rel, self.defs = rel, []

        def visit_FunctionDef(self, node):
            self.defs.append(node.name)
            self.generic_visit(node)
            self.defs.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Call(self, node):
            f = node.func
            outer = self.defs[0] if self.defs else "<module>"
            if (
                isinstance(f, ast.Attribute) and f.attr == "sortWithinPartitions"
                and self.rel != "sources/layout.py"
                and (self.rel, outer) != ("state.py", "_keyed_scan")
            ):
                bad.append(f"{self.rel}:{node.lineno} in {outer}")
            self.generic_visit(node)

    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        Calls(rel).visit(ast.parse(path.read_text()))
    assert not bad, bad
