"""Golden-list selection tests, mirroring /root/reference/tests/select_test.py."""

from pyspark.sql import functions as F


def test_filter(ints):
    # reference: .filter() keeps truthy → drops 0 (select_test.py)
    assert ints.filter().to_list() == list(range(1, 10))
    assert ints.filter(lambda v: v % 2 == 0).to_list() == [0, 2, 4, 6, 8]
    assert ints.filter("value > 6").to_list() == [7, 8, 9]


def test_skip_take(ints):
    assert ints.skip(5).to_list() == [5, 6, 7, 8, 9]
    assert ints.take(3).to_list() == [0, 1, 2]
    assert ints.skip(2).take(2).to_list() == [2, 3]


def test_takewhile_dropwhile(ints):
    assert ints.takewhile(lambda v: v < 5).to_list() == [0, 1, 2, 3, 4]
    assert ints.dropwhile(lambda v: v < 5).to_list() == [5, 6, 7, 8, 9]
    # non-monotone predicate: stops at first failure for good
    assert ints.map(lambda v: v % 3).takewhile(lambda v: v < 2).to_list() == [0, 1]


def test_changes(dups):
    assert dups.changes().to_list() == [1, 2, 1, 2, 3, 1, 4]


def test_unique(dups):
    assert dups.unique().to_list() == [1, 2, 3, 4]


def test_unique_by_key(ints):
    assert ints.unique(by=lambda v: v % 3).to_list() == [0, 1, 2]


def test_last(ints):
    assert ints.last().to_list() == [9]


def test_last_empty_stream(ints):
    # reference Last emits nothing on an empty source; the global agg's
    # degenerate all-NULL row must be filtered out (ADVICE r6).
    assert ints.filter("value > 100").last().to_list() == []


def test_last_tie_row_consistency(spark):
    # duplicate seq values: every output column must come from the SAME
    # winning row (one max_by(struct) — not per-column max_by).
    from pyspark.sql import Row

    from eventkit_spark.frame import EventFrame

    df = spark.createDataFrame(
        [Row(seq=1, a="x1", b="y1"), Row(seq=2, a="x2", b="y2"),
         Row(seq=2, a="x3", b="y3")]
    )
    ef = EventFrame(df, value_cols=("a", "b"), seq_col="seq")
    rows = ef.last().df.collect()
    assert len(rows) == 1
    assert (rows[0]["a"], rows[0]["b"]) in {("x2", "y2"), ("x3", "y3")}


def test_takeuntil(spark, ints):
    from eventkit_spark.sources.create import sequence

    notifier = sequence(spark, ["x"], times=[0.045])
    assert ints.takeuntil(notifier).to_list() == [0, 1, 2, 3, 4]


def test_selection_scaled_matches_sequential(spark):
    """The two-pass unkeyed selection/rank ops (scaled=True) equal the
    single-task window forms, and the plan partitions the data window
    by the range bucket instead of a constant."""
    import pytest

    from eventkit_spark.plans.audit import windows
    from eventkit_spark.sources.create import sequence

    vals = [((i * 37) % 19) - 9 for i in range(500)]
    ef = sequence(spark, vals, interval=0.001)
    cases = [
        ("skip", dict(count=7)),
        ("take", dict(count=123)),
        ("takewhile", dict(predicate="value > -9")),
        ("dropwhile", dict(predicate="value > -9")),
        ("enumerate", dict(start=3, step=2)),
        ("count", dict(start=1)),
        ("changes", dict()),
        ("previous", dict(count=3)),
        ("pairwise", dict()),
        ("chunk", dict(size=7)),
    ]
    for op, kwargs in cases:
        seq_out = getattr(ef, op)(**kwargs).to_list()
        got = getattr(ef, op)(**kwargs, scaled=True, partitions=4).to_list()
        assert got == seq_out, op

    # unique: heavy-duplicate stream (every value repeats ~26x) — the
    # scaled form must keep first occurrences in emit order, including
    # NULL payloads (null-safe dedup join), with no payload-sort window
    uniq_seq = ef.unique().to_list()
    assert ef.unique(scaled=True, partitions=4).to_list() == uniq_seq
    assert (ef.unique(by="value % 3", scaled=True, partitions=4).to_list()
            == ef.unique(by="value % 3").to_list())
    nvals = [v if (i * 13) % 7 else None for i, v in enumerate(vals)]
    nef = sequence(spark, nvals, interval=0.001)
    assert (nef.unique(scaled=True, partitions=4).df.orderBy("seq").collect()
            == nef.unique().df.orderBy("seq").collect())
    uwin = windows(ef.unique(scaled=True, partitions=4).df)
    # (the one unkeyed window orders the #partitions-row offset table by __pid)
    assert all("__pid" in w.columns for w in uwin), "unique_scaled sorts a payload window"

    # null-safe changes across bucket boundaries: consecutive NULLs
    # collapse, NULL<->value transitions emit — same as the sequential
    # form on a stream salted with NULL runs
    nvals = [v if (i * 13) % 7 else None for i, v in enumerate(vals)]
    nef = sequence(spark, nvals, interval=0.001)
    assert (nef.changes(scaled=True, partitions=4).df.orderBy("seq").collect()
            == nef.changes().df.orderBy("seq").collect())

    # predicate never fails / always fails: prefix flags degenerate
    assert ef.takewhile("value > 100", scaled=True, partitions=4).to_list() == []
    assert ef.dropwhile("value < 100", scaled=True, partitions=4).to_list() == []
    assert (ef.dropwhile("value > 100", scaled=True, partitions=4).to_list()
            == ef.to_list())

    wins = windows(ef.takewhile("value > -9", scaled=True, partitions=4).df)
    assert any("__pid" in w.keys for w in wins), "window not bucket-partitioned"

    keyed = ef._with()
    keyed.key_cols = ["value"]
    with pytest.raises(ValueError, match="UNKEYED"):
        keyed.takewhile("value > 0", scaled=True)
