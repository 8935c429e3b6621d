"""Table-source loading, in particular timestamp-flavor normalization.

Round-3 regression (VERDICT.md r3): the driver's testdata switched from
parquet TIMESTAMP(NANOS) to TIMESTAMP(MICROS) with isAdjustedToUTC=false
(the pandas default), which Spark loads as TIMESTAMP_NTZ.  Every
event-time expression (``unix_micros``, ``ts.cast("double")``) is an
AnalysisException on NTZ, so 11 operators broke while the synthetic-LTZ
test suite stayed green.  These tests write a micros-NTZ parquet exactly
like the driver's and run one operator from each family that broke.
"""

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from eventkit_spark.operators.relational import asof_join
from eventkit_spark.sources.tables import load_events, load_table


@pytest.fixture(scope="module")
def ntz_dir(tmp_path_factory):
    """A testdata-shaped events.parquet with naive micros timestamps."""
    d = tmp_path_factory.mktemp("ntz")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = 12
    table = pa.table(
        {
            "event_id": pa.array(range(rows), pa.int64()),
            # bursts: 3 rows 0.1s apart, then a 30s gap, per user
            "ts": pa.array(
                [
                    base
                    + dt.timedelta(seconds=(i // 6) * 1000 + (i % 6 // 3) * 30 + (i % 3) * 0.1)
                    for i in range(rows)
                ],
                pa.timestamp("us"),  # no tz => isAdjustedToUTC=false => NTZ
            ),
            "user_id": pa.array([i // 6 for i in range(rows)], pa.int64()),
            "value": pa.array([float(i) for i in range(rows)], pa.float64()),
        }
    )
    pq.write_table(table, str(d / "events.parquet"))
    return str(d)


def test_load_events_ntz_parquet(spark, ntz_dir):
    """NTZ parquet loads as plain TIMESTAMP (LTZ, session tz UTC)."""
    df = load_table(spark, ntz_dir, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    # value-preserving under UTC: epoch micros of 2024-01-01T00:00:00
    first = df.orderBy("event_id").select(F.unix_micros("ts").alias("us")).first()
    assert first["us"] == 1704067200000000


def test_ntz_timing_family(spark, ntz_dir):
    """delay / timeout / debounce over an NTZ-sourced stream."""
    ef = load_events(spark, ntz_dir)
    delayed = ef.delay(2.5)
    t0 = delayed.df.orderBy("event_id").select(F.unix_micros("ts").alias("us")).first()
    assert t0["us"] == 1704067200000000 + 2_500_000
    # timeout 5s cuts each user's stream at the 30s gap: 3 rows survive
    cut = ef.timeout(5.0)
    assert cut.df.count() == 6  # 3 per user
    # debounce(first) with 1s: only burst heads survive
    heads = ef.debounce(1.0, on_first=True)
    assert heads.df.count() == 4  # 2 bursts per user
    # debounce(last) re-stamps the burst tails
    tails = ef.debounce(1.0)
    assert tails.df.count() == 4
    # timestamp() surfaces ts as double seconds
    stamped = ef.timestamp()
    row = stamped.df.orderBy("event_id").first()
    assert abs(row["t"] - 1704067200.0) < 1e-6


def test_ntz_emap_family(spark, ntz_dir):
    """mergemap over an NTZ-sourced stream (the _explode_children path)."""
    ef = load_events(spark, ntz_dir)
    small = ef._with(df=ef.df.filter(F.col("event_id") < 2))

    def gen(v):
        return F.array(
            F.struct(F.lit(0.0).alias("dt"), (v * 10).alias("value")),
            F.struct(F.lit(0.5).alias("dt"), (v * 10 + 1).alias("value")),
        )

    out = small.mergemap(gen)
    assert out.df.count() == 4
    assert isinstance(out.df.schema["ts"].dataType, TimestampType)


def test_ntz_asof_join_both_variants(spark, ntz_dir):
    """asof_join accepts NTZ inputs directly (entry normalization)."""
    # read raw to keep NTZ on purpose: bypass load_table normalization
    raw = spark.read.parquet(os.path.join(ntz_dir, "events.parquet"))
    left = raw.select("event_id", "ts", "user_id", "value")
    right = raw.filter(F.col("event_id") % 2 == 0).select(
        "ts", "user_id", (F.col("value") * 100).alias("quote")
    )
    keyed = asof_join(left, right, "ts", by="user_id")
    assert keyed.count() == left.count()
    # every left row at/after a right row carries the latest quote
    got = {r["event_id"]: r["quote"] for r in keyed.collect()}
    assert got[1] == 0.0 and got[3] == 200.0
    unkeyed = asof_join(left.drop("user_id"), right.drop("user_id"), "ts")
    assert unkeyed.count() == left.count()


def test_real_testdata_still_loads(spark):
    """Whatever flavor the driver's current testdata uses, it loads LTZ."""
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if not os.path.exists(os.path.join(sf, "events.parquet")):
        pytest.skip("driver testdata not present")
    ef = load_events(spark, sf)
    assert isinstance(ef.df.schema["ts"].dataType, TimestampType)
    # one representative op from the broken family end-to-end
    assert ef.delay(1.0).df.limit(5).count() == 5


def test_webdataset_roundtrip(spark, tmp_path):
    """write_webdataset -> load_webdataset reproduces every sample's
    parts byte-for-byte, rolls shards at samples_per_shard, and the
    reader needs no shuffle (samples group inside the tar kernel)."""
    from eventkit_spark.sources.formats import load_webdataset, write_webdataset

    rows = [
        (f"{i:05d}", {"txt": f"doc number {i}".encode(),
                      "json": b'{"lang": "en"}',
                      "bin": bytes([i % 256, 255 - i % 256])})
        for i in range(37)
    ]
    df = spark.createDataFrame(rows, "key string, parts map<string, binary>")
    out = str(tmp_path / "wds")
    manifest = write_webdataset(
        df.repartition(2), out, samples_per_shard=10
    ).collect()
    assert sum(m["n_samples"] for m in manifest) == 37
    assert all(m["n_samples"] <= 10 for m in manifest)

    back = load_webdataset(spark, out)
    got = {r["key"]: dict(r["parts"]) for r in back.collect()}
    exp = {k: p for k, p in rows}
    assert got.keys() == exp.keys()
    for k in exp:
        assert {e: bytes(b) for e, b in got[k].items()} == exp[k], k

    from eventkit_spark.plans.audit import plan_report

    assert plan_report(back)["exchanges"] == 0


def test_webdataset_dotted_directory_keys(spark, tmp_path):
    """The sample key splits at the first dot of the BASENAME (upstream
    webdataset rule): members under a dotted directory ('v1.0/...') must
    keep the directory in the key and not bleed it into the extension."""
    import io
    import tarfile

    from eventkit_spark.sources.formats import load_webdataset

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, payload in [
            ("v1.0/00001.txt", b"alpha"),
            ("v1.0/00001.meta.json", b"{}"),
            ("v1.0/00002.txt", b"beta"),
            ("plain", b"noext"),
        ]:
            info = tarfile.TarInfo(name)
            info.size = len(payload)
            tf.addfile(info, io.BytesIO(payload))
    shard = tmp_path / "dotted-000.tar"
    shard.write_bytes(buf.getvalue())

    got = {
        r["key"]: dict(r["parts"])
        for r in load_webdataset(spark, str(shard)).collect()
    }
    assert set(got) == {"v1.0/00001", "v1.0/00002", "plain"}
    # first-dot-of-basename: the SECOND dot stays in the extension
    assert {e: bytes(b) for e, b in got["v1.0/00001"].items()} == {
        "txt": b"alpha",
        "meta.json": b"{}",
    }
    assert {e: bytes(b) for e, b in got["plain"].items()} == {"": b"noext"}


# ---------------------------------------------------------------------
# the two driver-side table paths: read_parquet (schema inferred once
# per file listing) and local_frame (driver-built tables via Arrow)
# ---------------------------------------------------------------------

def _jobs_during(spark, fn):
    """(result of fn(), number of Spark jobs fn launched on this thread)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs_during_{uuid.uuid4().hex}"  # never reused, unlike id(fn)
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_parquet_infers_once_per_listing(spark, tmp_path):
    """The first read infers the schema (one job); a second read of the
    unchanged table launches none. A rewrite at the same path lists
    differently and is inferred afresh, matching a plain read."""
    from eventkit_spark.sources.tables import read_parquet

    path = str(tmp_path / "t")
    spark.range(5).selectExpr("id", "id * 2 AS v").write.parquet(path)
    first, n_first = _jobs_during(spark, lambda: read_parquet(spark, path).schema)
    again, n_again = _jobs_during(spark, lambda: read_parquet(spark, path).schema)
    assert n_first == 1 and n_again == 0
    assert first == again == spark.read.parquet(path).schema
    spark.range(3).selectExpr("id", "'x' AS v", "id AS w").write.mode("overwrite").parquet(path)
    df = read_parquet(spark, path)
    plain = spark.read.parquet(path)
    assert df.schema == plain.schema
    assert sorted(df.collect()) == sorted(plain.collect())


def test_read_parquet_memo_under_threads(spark, tmp_path):
    """Eight threads reading three tables at once (the plan tests' pool
    shape) each get their own table's schema: racing misses may infer
    twice, never store one table's schema under another."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from eventkit_spark.sources.tables import read_parquet

    paths = []
    for i in range(3):
        p = str(tmp_path / f"t{i}")
        spark.range(4).selectExpr("id", *[f"id AS c{i}_{j}" for j in range(i + 1)]).write.parquet(p)
        paths.append(p)
    want = {p: spark.read.parquet(p).schema for p in paths}
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads often: widen every race
    try:
        with ThreadPoolExecutor(max_workers=8) as ex:
            got = list(ex.map(lambda p: (p, read_parquet(spark, p).schema), paths * 8,
                              timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert len(got) == 24
    assert all(s == want[p] for p, s in got)


def test_load_table_rewritten_ns_to_us(spark, tmp_path):
    """The nano-timestamp column lookup is keyed on the file listing:
    a table rewritten at the same path from timestamp[ns] to
    timestamp[us] with an extra column loads exactly like a fresh path
    holding the new file (before, the cached ns column list applied
    ``div 1000`` to the micros timestamps)."""
    base = dt.datetime(2024, 1, 1)
    times = [base + dt.timedelta(seconds=i, microseconds=7 * i) for i in range(4)]

    def table(unit, extra):
        cols = {
            "event_id": pa.array(range(4), pa.int64()),
            "ts": pa.array(times, pa.timestamp(unit)),
        }
        if extra:
            cols["tag"] = pa.array(["a", "b", "c", "d"])
        return pa.table(cols)

    at, fresh = tmp_path / "at", tmp_path / "fresh"
    at.mkdir()
    fresh.mkdir()
    pq.write_table(table("ns", False), str(at / "events.parquet"))
    ns = load_table(spark, str(at), "events")
    assert isinstance(ns.schema["ts"].dataType, TimestampType)
    pq.write_table(table("us", True), str(at / "events.parquet"))
    pq.write_table(table("us", True), str(fresh / "events.parquet"))
    got = load_table(spark, str(at), "events")
    want = load_table(spark, str(fresh), "events")
    assert got.schema == want.schema
    assert "tag" in got.columns
    key = F.unix_micros("ts").alias("us")
    assert got.select("event_id", key, "tag").orderBy("event_id").collect() == (
        want.select("event_id", key, "tag").orderBy("event_id").collect()
    )
    assert got.select(key).orderBy("us").first()["us"] == 1704067200000000


# every schema a converted createDataFrame site passes, with rows of the
# value shapes that site builds (NULLs where the site can produce them)
_TS = [dt.datetime(2024, 1, 1, 12, 30, 0, 250), dt.datetime(1969, 12, 31, 23, 59, 59),
       dt.datetime(2024, 3, 10, 2, 30, tzinfo=dt.timezone.utc), None]
_LOCAL_FRAME_CASES = [
    ("seq long, ts timestamp, value double", [(0, _TS[0], 1.5), (1, _TS[1], None), (2, _TS[2], -0.0)]),
    ("seq long, ts timestamp, value long", [(0, _TS[0], 1 << 40), (1, _TS[3], None)]),
    ("seq long, ts timestamp, value boolean", [(0, _TS[1], True), (1, _TS[0], None)]),
    ("seq long, ts timestamp, value string", [(0, _TS[2], "a"), (1, _TS[0], None)]),
    ("seq long, ts timestamp, value timestamp", [(0, _TS[0], _TS[1]), (1, _TS[2], None)]),
    ("seq long, ts timestamp, value double", []),
    ("__ek_rn long, __ek_v2 double", [(0, 0.1), (1, float("inf"))]),
    ("word string, freq long, syms array<string>", [("hello", 3, ["he", "llo"]), ("a", 1, ["a"])]),
    ("rank int, lhs string, rhs string, pair_count long", [(1, "l", "o", 9), (2, "he", "llo", 4)]),
    ("query_id long, cell int", [(3, 0), (3, 7)]),
    ("num_hashes int, bands int, k int, portable boolean", [(32, 8, 3, True)]),
    ("id long, cluster long", []),
    ("idx long, w long", [(0, -(1 << 63)), (5, (1 << 63) - 1)]),
    ("k int, fpp double, m_bits long, n_probes int", [(3, 0.01, 9585, 7)]),
    ("max_hamming int, portable boolean", [(3, False)]),
    ("pid int, j int, w string", [(0, 0, "lorem"), (0, 1, "ipsum")]),
    ("pid int, phrase string, n int", [(0, "lorem ipsum", 2)]),
    ("mid int, is_phrase int, n int", [(0, 1, 2)]),
    ("keyword string", [("javascript",), ("lorem",)]),
    ("piece string, score long", [("ab", -4), ("▁x", 0)]),
    ("cell int, cv array<double>", [(0, [0.5, -1.25]), (1, [])]),
    ("id_a long, id_b long, cos double", []),
]


def _rows_and_micros(df):
    ts = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampType)]
    cols = [F.col(c) for c in df.columns] + [F.unix_micros(c).alias(f"us_{c}") for c in ts]
    return sorted(map(repr, df.select(*cols).collect()))


def test_local_frame_matches_create_dataframe(spark):
    """local_frame == createDataFrame(list) — schema and rows — for every
    schema the converted sites use, in the UTC session and in a
    non-UTC session with a non-UTC driver process zone (naive datetimes
    are driver-local wall time on both paths); and a pyarrow table
    (the union-find labels) == the pandas frame it replaced."""
    import time

    import numpy as np
    import pandas as pd

    from eventkit_spark.sources.tables import local_frame

    saved_tz = os.environ.get("TZ")
    other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        os.environ["TZ"] = "Asia/Kolkata"
        time.tzset()
        for session in (spark, other):
            for schema, rows in _LOCAL_FRAME_CASES:
                got = local_frame(session, rows, schema)
                want = session.createDataFrame(rows, schema)
                assert got.schema == want.schema, schema
                assert _rows_and_micros(got) == _rows_and_micros(want), schema
    finally:
        if saved_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = saved_tz
        time.tzset()
    for ids in (np.array([4, 1, 9], np.int32), np.array([4, 1, 1 << 40]),
                np.array(["b", "a", "c"], dtype=object)):
        labels = ids[[1, 1, 2]]
        want = spark.createDataFrame(pd.DataFrame({"id": ids, "cluster": labels}))
        id_type = want.schema["id"].dataType.simpleString()
        got = local_frame(
            spark, pa.table({"id": ids, "cluster": labels}), f"id {id_type}, cluster {id_type}"
        )
        assert got.schema == want.schema
        assert sorted(got.collect()) == sorted(want.collect())
    # a row of the wrong width raises, as createDataFrame's does
    for bad in ([(1, "a", 2.0)], [(1, "a"), (2,)]):
        with pytest.raises(ValueError):
            local_frame(spark, bad, "a long, b string")


def test_driver_table_paths_stay_in_their_helpers():
    """Every parquet read and every driver-built table of the package
    goes through sources/tables.py's read_parquet and local_frame: a
    bare ``.read.parquet(`` brings back a schema-inference job per
    read, a bare ``createDataFrame(`` the Python-worker round trip."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "eventkit_spark"
    allowed = {("sources/tables.py", "_read"), ("sources/tables.py", "local_frame")}
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
            hit = isinstance(f, ast.Attribute) and (
                f.attr == "createDataFrame"
                or (f.attr == "parquet" and isinstance(f.value, ast.Attribute)
                    and f.value.attr == "read")
            )
            outer = self.defs[0] if self.defs else "<module>"
            if hit and (self.rel, outer) not in allowed:
                bad.append(f"{self.rel}:{node.lineno} in {outer}")
            self.generic_visit(node)

    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        Calls(rel).visit(ast.parse(path.read_text()))
    assert not bad, bad
