"""Sink surface: batch parquet round-trip, streaming foreachBatch and
parquet sink (the reference's connect/emit + run terminal paths)."""

from pyspark.sql import functions as F


def test_batch_parquet_roundtrip(spark, tmp_path, ints):
    path = str(tmp_path / "out")
    ints.sum().to_parquet(path)
    back = spark.read.parquet(path)
    assert back.count() == 10
    assert back.agg(F.max("value")).first()[0] == 45


def test_streaming_foreach_batch(spark, tmp_path):
    from eventkit_spark.sources.tables import load_table
    from eventkit_spark.streaming import file_stream

    src_dir = str(tmp_path / "src")
    load_table(spark, "/root/testdata/sf0.001", "events").limit(50).write.parquet(src_dir)
    sf = file_stream(
        spark, src_dir,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        key_cols=["user_id"],
    )
    seen = []
    q = sf.filter("value > 0").foreach_batch(
        lambda bdf, bid: seen.append((bid, bdf.count()))
    )
    # availableNow not set: stop after first batch processes everything queued
    q.processAllAvailable()
    q.stop()
    assert sum(n for _, n in seen) == 50


def test_streaming_parquet_sink(spark, tmp_path):
    from eventkit_spark.sources.tables import load_table
    from eventkit_spark.streaming import file_stream

    src_dir = str(tmp_path / "src2")
    load_table(spark, "/root/testdata/sf0.001", "events").limit(40).write.parquet(src_dir)
    sf = file_stream(
        spark, src_dir,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        key_cols=["user_id"],
    )
    out_dir = str(tmp_path / "out2")
    ck = str(tmp_path / "ck")
    q = sf.to_parquet_stream(out_dir, ck)
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(out_dir).count() == 40


def test_write_dataset_bounded_files(spark, tmp_path):
    """write_dataset bounds file sizes via maxRecordsPerFile derived
    from a sampled row size (no full pre-count), and partition_by
    yields directory partitions written by one task each (no
    tasks-x-values file explosion)."""
    import glob
    import os

    from eventkit_spark.sources.sinks import write_dataset
    from eventkit_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    out = str(tmp_path / "ds")
    plan = write_dataset(ev, out, partition_by=("event_type",), target_mb=1)
    assert plan["rows_per_file"] >= 1 and plan["est_row_bytes"] > 0
    parts = [p for p in os.listdir(out) if p.startswith("event_type=")]
    assert len(parts) >= 2
    files = glob.glob(f"{out}/event_type=*/*.parquet")
    # every file under ~target (estimate over-counts -> smaller files)
    for f in files:
        assert os.path.getsize(f) <= 1 * 1024 * 1024
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    # partition pruning reaches the scan
    from eventkit_spark.plans.audit import file_scans

    scans = file_scans(back.filter("event_type = 'click'"))
    assert any(s.partition_filters for s in scans)

    # tiny target forces multiple files per partition dir (the bound
    # actually bites)
    out2 = str(tmp_path / "ds2")
    write_dataset(ev, out2, target_mb=1, sample_rows=10)
    assert len(glob.glob(f"{out2}/*.parquet")) >= 1


def test_write_dataset_salted_hot_partition(spark, tmp_path):
    """salt splits a hot partition value across several write tasks:
    the hot value's directory holds >= salt files, and the readback is
    value-identical to the unsalted write."""
    import glob

    from eventkit_spark.sources.sinks import write_dataset
    from eventkit_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "hot", F.lit("x")  # every row one partition value: worst skew
    )
    out = str(tmp_path / "salted")
    write_dataset(ev, out, partition_by=("hot",), target_mb=64, salt=4)
    files = glob.glob(f"{out}/hot=x/*.parquet")
    # range boundaries are sample-derived, so fan-out is approximate:
    # the guarantee is the hot value SPLITS (vs. exactly-one-task
    # unsalted), not exactly `salt` files
    assert len(files) >= 2
    back = spark.read.parquet(out)
    assert back.count() == 1000
    # sum associativity differs across partitionings — tolerance compare
    assert abs(
        back.agg(F.sum("value")).first()[0] - ev.agg(F.sum("value")).first()[0]
    ) < 1e-6


def test_zorder_key_matches_python_interleave(spark):
    """The Column expression reproduces the reference Morton interleave
    bit-for-bit, including masking past `bits` and negative clamping."""
    from pyspark.sql import functions as F

    from eventkit_spark.sources.layout import zorder_key

    def z_ref(x, y, bits=16):
        x, y = max(x, 0), max(y, 0)
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    vals = [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535), (70000, 2), (-4, 7)]
    df = spark.createDataFrame(vals, ["x", "y"])
    got = [
        r["z"]
        for r in df.select(zorder_key(["x", "y"]).alias("z"))
        .orderBy("x", "y")
        .collect()
    ]
    want = [z_ref(x, y) for x, y in sorted(vals)]
    assert got == want

    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least 2"):
        zorder_key(["x"])
    with _pytest.raises(ValueError, match="exceeds a long"):
        zorder_key(["x", "y"], bits=32)


def test_write_zordered_files_cover_narrow_zranges(spark, tmp_path):
    """Each output file's z-span must be far narrower than the global
    z-span — the min/max-stat tightness that lets multi-dim predicates
    skip files. (A hash layout gives every file ~the full span.)"""
    import glob

    from pyspark.sql import functions as F

    from eventkit_spark.sources.layout import write_zordered, zorder_key

    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    out = str(tmp_path / "zo")
    write_zordered(df, ["x", "y"], out, partitions=8)
    spans = []
    for f in glob.glob(f"{out}/*.parquet"):
        pdf = spark.read.parquet(f).select(zorder_key(["x", "y"]).alias("z")).toPandas()
        spans.append(int(pdf.z.max()) - int(pdf.z.min()))
    assert len(spans) >= 4
    global_span = 4095  # z of (63,63) for this grid
    # every file holds a contiguous z-slice: span ~ global/nfiles
    assert max(spans) < global_span / 2


def test_format_roundtrips_preserve_values(spark, tmp_path):
    """CSV/JSONL/ORC write+read round-trips preserve every value and
    the timestamp flavor (NTZ normalizes to LTZ on load); readers
    refuse schema-less CSV/JSONL unless inference is opted into."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from eventkit_spark.sources.formats import (
        load_csv, load_jsonl, load_orc, write_format,
    )
    from eventkit_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    want = {(r["event_id"], r["user_id"], r["ts"], r["event_type"], r["value"])
            for r in ev.collect()}
    ddl = "event_id long, user_id long, ts timestamp, event_type string, value double"

    p_csv = str(tmp_path / "csv")
    write_format(ev, p_csv, "csv", header=True,
                 timestampFormat="yyyy-MM-dd HH:mm:ss.SSSSSS")
    back = load_csv(spark, p_csv, schema=ddl,
                    timestampFormat="yyyy-MM-dd HH:mm:ss.SSSSSS")
    got = {(r["event_id"], r["user_id"], r["ts"], r["event_type"], r["value"])
           for r in back.collect()}
    assert got == want

    p_json = str(tmp_path / "jsonl")
    write_format(ev, p_json, "json",
                 timestampFormat="yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    back = load_jsonl(spark, p_json, schema=ddl,
                      timestampFormat="yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    got = {(r["event_id"], r["user_id"], r["ts"], r["event_type"], r["value"])
           for r in back.collect()}
    assert got == want

    p_orc = str(tmp_path / "orc")
    write_format(ev, p_orc, "orc")
    back = load_orc(spark, p_orc)
    got = {(r["event_id"], r["user_id"], r["ts"], r["event_type"], r["value"])
           for r in back.collect()}
    assert got == want

    p_xml = str(tmp_path / "xml")
    write_format(ev, p_xml, "xml", rowTag="row", rootTag="rows",
                 timestampFormat="yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    from eventkit_spark.sources.formats import load_xml

    back = load_xml(spark, p_xml, row_tag="row", schema=ddl,
                    timestampFormat="yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    got = {(r["event_id"], r["user_id"], r["ts"], r["event_type"], r["value"])
           for r in back.collect()}
    assert got == want

    with _pytest.raises(ValueError, match="explicit schema"):
        load_csv(spark, p_csv)
    with _pytest.raises(ValueError, match="explicit schema"):
        load_jsonl(spark, p_json)
    with _pytest.raises(ValueError, match="explicit schema"):
        load_xml(spark, p_xml, row_tag="row")
    with _pytest.raises(ValueError, match="unsupported"):
        write_format(ev, str(tmp_path / "x"), "avro")
