"""Golden-list aggregate tests, mirroring /root/reference/tests/aggregate_test.py."""

import math

import pytest
from pyspark.sql import functions as F

from eventkit_spark.plans.audit import count_shuffles, node_counts, windows


def test_running_min_max(ints):
    ef = ints.map(lambda v: (v - 5) * (v - 5), names=["value"])
    assert ef.min().to_list() == [25, 16, 9, 4, 1, 0, 0, 0, 0, 0]
    assert ints.max().to_list() == list(range(10))


def test_running_sum_mean(ints):
    assert ints.sum().to_list() == [0, 1, 3, 6, 10, 15, 21, 28, 36, 45]
    assert ints.sum(start=100).to_list() == [100, 101, 103, 106, 110, 115, 121, 128, 136, 145]
    means = ints.mean().to_list()
    assert means == [sum(range(i + 1)) / (i + 1) for i in range(10)]


def test_running_product(spark):
    from eventkit_spark.sources.create import sequence

    ef = sequence(spark, [1.0, 2.0, -3.0, 4.0, 0.0, 5.0])
    got = ef.product().to_list()
    exp = [1.0, 2.0, -6.0, -24.0, 0.0, 0.0]
    assert all(abs(g - e) < 1e-9 for g, e in zip(got, exp))


def test_any_all(spark):
    from eventkit_spark.sources.create import sequence

    ef = sequence(spark, [True] * 3 + [False] * 3)
    assert ef.any().to_list() == [True] * 6
    assert ef.all().to_list() == [True, True, True, False, False, False]


def test_ema(spark):
    from eventkit_spark.sources.create import sequence

    xs = [float(x) for x in [3, 1, 4, 1, 5, 9, 2, 6, 5, 3]]
    ef = sequence(spark, xs)
    w = 2.0 / (5 + 1)
    exp = [xs[0]]
    for x in xs[1:]:
        exp.append((1 - w) * exp[-1] + w * x)
    got = ef.ema(n=5).to_list()
    assert all(abs(g - e) < 1e-9 for g, e in zip(got, exp))
    got2 = ef.ema_exact(n=5).to_list()
    assert all(abs(g - e) < 1e-9 for g, e in zip(got2, exp))


def test_ema_long_stream_no_overflow(spark):
    """100k rows across 2 keys: the old single-window closed form
    overflowed past ~6k rows/key (q^-i -> inf); the segmented scan must
    match the exact pandas recurrence everywhere (ADVICE r1, medium)."""
    from eventkit_spark.frame import EventFrame

    df = spark.range(100_000).select(
        (F.col("id") % 2).alias("k"),
        (F.col("id") / 2).cast("long").alias("seq"),
        (F.pmod(F.xxhash64("id"), F.lit(1000)) / 10.0).alias("value"),
    )
    ef = EventFrame(df, value_cols=["value"], seq_col="seq", ts_col=None, key_cols=["k"])
    got = ef.ema(n=10).df.orderBy("k", "seq").toPandas()
    exact = ef.ema_exact(n=10).df.orderBy("k", "seq").toPandas()
    assert not got["value"].isna().any()
    assert math.isfinite(got["value"].abs().max())
    diff = (got["value"] - exact["value"]).abs().max()
    assert diff < 1e-6, f"segmented vs exact EMA diverged by {diff}"


from conftest import seq_ema_model as _seq_ema_model


def _assert_ema_matches(got, exp, label):
    assert len(got) == len(exp), label
    for i, (g, e) in enumerate(zip(got, exp)):
        if e is None:
            assert g is None, (label, i, g)
        else:
            assert g is not None, (label, i)
            assert abs(g - e) <= 1e-9 + 1e-9 * abs(e), (label, i, g, e)


def test_ema_null_segment_semantics(spark):
    """r11 review: the NULL-boundary coalesces the rebased DuckDB
    oracle carries must exist in the KERNEL too — an all-NULL segment
    hands off a 0 boundary (its true carry decays by q^L = e^-500), a
    NULL segment prefix emits the decayed carry instead of NULL, and
    the ema stays NULL until the key's first value. Shapes cross the
    L=2491 segment boundary so the hand-off path actually runs."""
    from eventkit_spark.frame import EventFrame

    L = 2491
    shapes = {
        # stale-boundary repro: a whole all-NULL segment, then a value
        "all_null_mid_segment": [1.0] * L + [None] * L + [2.0],
        # segment-opening NULL: the in-segment sum is NULL at (1, 0)
        "null_at_segment_start": [1.0] * L + [None, 3.0],
        # NULL-led key: NULL until the first value; w-weight seed
        "null_led_key": [None] * 3 + [5.0, None, 7.0],
        # all-NULL key: NULL everywhere
        "all_null_key": [None] * 5,
    }
    for name, vals in shapes.items():
        rows = [(0, i, v) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "k long, seq long, value double")
        ef = EventFrame(
            df, value_cols=["value"], seq_col="seq", ts_col=None,
            key_cols=["k"],
        )
        got = [r["value"] for r in ef.ema(n=10).df.orderBy("seq").collect()]
        _assert_ema_matches(got, _seq_ema_model(vals), name)
        # the exact pandas recurrence shares the pinned NULL algebra
        got_x = [
            r["value"] for r in ef.ema_exact(n=10).df.orderBy("seq").collect()
        ]
        _assert_ema_matches(got_x, _seq_ema_model(vals), f"{name}_exact")


def test_ema_degenerate_weights_route_exact(spark):
    """weight < 0 (q > 1) and weight > 1 (q < 0) both route to the
    exact linear-scan recurrence — the segmented truncation is valid
    only for DECAYING carries (r11 review: weight < 0 reached
    _ema_staged, where the dropped older-boundary term grows by q^L
    instead of vanishing and q^-j overflows)."""
    from eventkit_spark.frame import EventFrame

    vals = [3.0, None, 4.0, 1.0, None, 5.0]
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "seq long, value double")
    ef = EventFrame(
        df, value_cols=["value"], seq_col="seq", ts_col=None, key_cols=[]
    )
    for wt in (-0.5, 1.5):
        got = [
            r["value"]
            for r in ef.ema(weight=wt).df.orderBy("seq").collect()
        ]
        _assert_ema_matches(
            got, _seq_ema_model(vals, weight=wt), f"weight={wt}"
        )


def test_ema_scaled_null_semantics(spark):
    """The bucketed form shares the NULL algebra: a NULL-led first
    bucket masks via the STREAM-global value count (not per-bucket),
    an all-NULL bucket folds a decayed (never NULL) tail into the
    carry, and a later bucket's NULL prefix still emits the
    cross-bucket carry."""
    from eventkit_spark.frame import EventFrame

    vals = (
        [None] * 4 + [2.0] + [None] * 12 + [4.0, 1.0] + [None] * 21
    )  # 40 rows / 4 buckets: NULL-led bucket 0, all-NULL buckets 2-3
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "seq long, value double")
    ef = EventFrame(
        df, value_cols=["value"], seq_col="seq", ts_col=None, key_cols=[]
    )
    got = [
        r["value"]
        for r in ef.ema(n=10, scaled=True, partitions=4).df
        .orderBy("seq").collect()
    ]
    _assert_ema_matches(got, _seq_ema_model(vals), "scaled")


def test_ema_single_shuffle(spark):
    """Segmented EMA's (key, seg) windows must reuse the key exchange —
    one shuffle total, not one per window spec."""
    from eventkit_spark.sources.tables import load_events

    ef = load_events(spark, "/root/testdata/sf0.001")
    assert count_shuffles(ef.ema(n=10).df) <= 1


def test_pairwise(ints):
    assert ints.take(4).pairwise().to_list() == [(0, 1), (1, 2), (2, 3)]


def test_reduce(ints):
    # running max via generic fold
    got = ints.map(lambda v: v % 4).reduce(lambda a, x: F.greatest(a, x), result_type="bigint").to_list()
    assert got == [0, 1, 2, 3, 3, 3, 3, 3, 3, 3]


def test_reduce_python_callable(ints, spark):
    """Arbitrary Python fold (reference Reduce accepts any func,
    aggregate.py:18-36): a clamped sum has no Column expression — it
    must route through the applyInPandas kernel and still match the
    sequential fold."""
    from functools import reduce as pyreduce

    func = lambda a, x: min(12, a + x)  # noqa: E731
    got = ints.reduce(func, initializer=0, result_type="bigint").to_list()
    exp, acc = [], 0
    for x in range(10):
        acc = func(acc, x)
        exp.append(acc)
    assert got == exp == [0, 1, 3, 6, 10, 12, 12, 12, 12, 12]

    # no initializer: first element seeds (engine docstring semantics)
    got2 = ints.reduce(func, result_type="bigint").to_list()
    assert got2 == [0, 1, 3, 6, 10, 12, 12, 12, 12, 12]

    # plain operator.add stays on the JVM Column path (no pandas node)
    import operator

    ef = ints.reduce(operator.add, result_type="bigint")
    assert not node_counts(ef.df)["FlatMapGroupsInPandasExec"]
    assert ef.to_list() == [sum(range(i + 1)) for i in range(10)]

    # and the python path is keyed-parallel: per-key folds stay separate
    from eventkit_spark.sources.tables import load_events

    ev = load_events(spark, "/root/testdata/sf0.001")
    per_key = ev.reduce(func, initializer=0, result_type="double")
    one = per_key.df.filter(F.col("user_id") == 0).orderBy("event_id").limit(3).collect()
    raw = ev.df.filter(F.col("user_id") == 0).orderBy("event_id").limit(3).collect()
    acc = 0
    for r_out, r_in in zip(one, raw):
        acc = func(acc, r_in["value"])
        assert abs(r_out["value"] - acc) < 1e-9


def test_reduce_python_cross_batch_carry(spark):
    """The mapInPandas reduce kernel (r11 optimization: one Arrow
    crossing per batch, not per key) must carry (acc, seeded) across an
    Arrow batch boundary that splits one key's run — forced here by
    shrinking maxRecordsPerBatch below the per-key row count."""
    from eventkit_spark.sources.tables import load_events

    func = lambda a, x: min(50.0, a + abs(x))  # noqa: E731 — no Column form
    ev = load_events(spark, "/root/testdata/sf0.001")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")  # events per user ~66 at sf0.001
        got = (
            ev.reduce(func, initializer=0.0, result_type="double")
            .df.select("user_id", "event_id", "value")
            .collect()
        )
    finally:
        spark.conf.set(key, old)
    raw = ev.df.select("user_id", "event_id", "value").collect()
    accs: dict = {}
    exp = {}
    for r in sorted(raw, key=lambda r: (r["user_id"], r["event_id"])):
        accs[r["user_id"]] = func(accs.get(r["user_id"], 0.0), r["value"])
        exp[(r["user_id"], r["event_id"])] = accs[r["user_id"]]
    assert len(got) == len(exp)
    for r in got:
        assert abs(r["value"] - exp[(r["user_id"], r["event_id"])]) < 1e-9


def test_list(ints):
    assert ints.list().to_list() == [list(range(10))]


def test_deque(ints):
    got = ints.deque(3).to_list()
    assert got[:4] == [[0], [0, 1], [0, 1, 2], [1, 2, 3]]
    assert got[-1] == [7, 8, 9]


def test_array_reductions(spark):
    from eventkit_spark.sources.create import sequence

    xs = [1.0, 3.0, 2.0, 5.0, 4.0]
    ef = sequence(spark, xs)
    assert ef.array_min(3).to_list() == [1.0, 1.0, 1.0, 2.0, 2.0]
    assert ef.array_max(3).to_list() == [1.0, 3.0, 3.0, 5.0, 5.0]
    assert ef.array_sum(3).to_list() == [1.0, 4.0, 6.0, 10.0, 11.0]
    assert ef.array_mean(3).to_list() == [1.0, 2.0, 2.0, 10 / 3, 11 / 3]
    stds = ef.array_std(3).to_list()
    assert stds[0] is None  # n<2 -> NULL (numpy NaN analog)
    assert abs(stds[2] - 1.0) < 1e-9
    prods = ef.array_prod(3).to_list()
    assert all(abs(g - e) < 1e-9 for g, e in zip(prods, [1.0, 3.0, 6.0, 30.0, 40.0]))


def test_fork_zip(ints):
    ef = ints.fork_zip(lambda e: e.min(), lambda e: e.max(), lambda e: e.sum())
    got = ef.to_list()
    assert got[0] == (0, 0, 0)
    assert got[-1] == (0, 9, 45)


def test_running_scaled_matches_sequential(spark):
    """The two-pass unkeyed running aggregates (scaled=True) equal the
    single-task window on integer payloads, and the plan partitions the
    window by the range bucket (parallel) instead of a constant."""
    import pyspark.sql.functions as F

    from eventkit_spark.sources.create import sequence

    vals = [((i * 37) % 19) - 9 for i in range(500)]
    ef = sequence(spark, vals, interval=0.001)
    for kind, kwargs in [
        ("sum", {"start": 5}), ("min", {}), ("max", {}), ("mean", {}),
        ("any", {}), ("all", {}),
    ]:
        seq_out = getattr(ef, kind)(**kwargs).to_list()
        scaled = getattr(ef, kind)(scaled=True, partitions=4, **kwargs)
        got = scaled.to_list()
        if kind == "mean":
            assert [round(a, 9) for a in got] == [round(a, 9) for a in seq_out]
        else:
            assert got == seq_out, kind
    wins = windows(ef.sum(scaled=True, partitions=4).df)
    assert any("__pid" in w.keys for w in wins), "window not bucket-partitioned"
    # keyed streams must refuse the scaled path
    import pytest as _pytest

    keyed = ef._with()
    keyed.key_cols = ["value"]
    with _pytest.raises(ValueError, match="UNKEYED"):
        keyed.sum(scaled=True)


def test_ema_scaled_matches_sequential(spark):
    """The affine two-pass unkeyed EMA (scaled=True) matches the
    single-task segmented scan to float ulps (measured < 1e-12 rel),
    windows partition by the range bucket, and degenerate weights are
    refused toward the default path."""
    import pytest

    from eventkit_spark.sources.create import sequence

    vals = [float(((i * 37) % 19) - 9) for i in range(3000)]
    ef = sequence(spark, vals, interval=0.001)
    seq_out = ef.ema(n=10).to_list()
    got = ef.ema(n=10, scaled=True, partitions=6).to_list()
    assert len(got) == len(seq_out)
    assert max(
        abs(a - b) / max(abs(b), 1e-12) for a, b in zip(got, seq_out)
    ) < 1e-9

    wins = windows(ef.ema(n=10, scaled=True, partitions=6).df)
    assert any("__pid" in w.keys for w in wins)

    with pytest.raises(ValueError, match="0 < weight < 1"):
        ef.ema(weight=1.5, scaled=True)
