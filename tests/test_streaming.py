"""Structured Streaming twins, driven deterministically: a static
parquet dir read as a file stream with trigger(availableNow=True) into a
memory sink, compared against the batch engine on the same data."""

import os

import pytest
from pyspark.sql import functions as F

from eventkit_spark.plans.audit import node_class, plan_expressions, plan_nodes


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream_src"))
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # nanos ts: route through the engine loader for the converted form
    from eventkit_spark.sources.tables import load_table

    load_table(spark, "/root/testdata/sf0.001", "events").write.mode("overwrite").parquet(path)
    return path


def _stream(spark, stream_dir):
    from eventkit_spark.streaming import file_stream

    return file_stream(
        spark,
        stream_dir,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        value_cols=["value"],
        ts_col="ts",
        key_cols=["user_id"],
    )


_RUNNING_AGG_SCHEMA = (
    "struct<user_id:bigint,ts:{ts},value:double,rcount:bigint,"
    "rsum:double,rmin:double,rmax:double,ema:double>"
)


def _running_agg_sql(spark, src, keys=("user_id",)):
    """running_agg's batch SQL twin: window aggregates plus the
    closed-form ema (the oracle algebra, where NULL terms drop out of
    the SUM), over ``src``'s (keys, ts, value); ema_n=10."""
    w, q = 2.0 / 11.0, 9.0 / 11.0
    k = "".join(f"{c}, " for c in keys)
    part = f"PARTITION BY {', '.join(keys)}" if keys else ""
    return spark.sql(
        f"""
        WITH t AS (
          SELECT {k}ts, value,
                 row_number() OVER ({part} ORDER BY ts) - 1 AS i
          FROM {{src}}
        )
        SELECT {k}ts, value,
               i + 1 AS rcount,
               sum(value) OVER win AS rsum,
               min(value) OVER win AS rmin,
               max(value) OVER win AS rmax,
               pow({q}, i) * sum(CASE WHEN i = 0 THEN value
                    ELSE {w} * value * pow({q}, -i) END) OVER win AS ema
        FROM t
        WINDOW win AS ({part} ORDER BY i
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        src=src,
    ).collect()


def _running_agg_rows(rows, keys=("user_id",)):
    """(keys, ts, value, rcount, rsum, rmin, rmax, ema) tuples, floats
    rounded to 9 places, sorted with NULLs first."""
    def f(v):
        return None if v is None else round(float(v), 9)

    return sorted(
        (
            (tuple(r[c] for c in keys), r["ts"], f(r["value"]), r["rcount"],
             f(r["rsum"]), f(r["rmin"]), f(r["rmax"]), f(r["ema"]))
            for r in rows
        ),
        key=lambda t: [(v is not None, v) for v in (*t[0], *t[1:])],
    )


def test_stateless_filter_map(spark, stream_dir):
    sf = _stream(spark, stream_dir).filter("value > 250").map(lambda v: v * 2)
    out = sf.run_available_now(name="ek_t1")
    batch = spark.read.parquet(stream_dir).filter("value > 250")
    assert out.count() == batch.count()
    assert abs(
        out.agg(F.sum("value")).first()[0] - 2 * batch.agg(F.sum("value")).first()[0]
    ) < 1e-6


def test_running_agg_matches_batch(spark, stream_dir):
    sf = _stream(spark, stream_dir)
    out = sf.run_available_now(sink_df=sf.running_agg(ema_n=10), name="ek_t2")
    # event_id / event_type / props never reach the kernel, and the ts
    # crossing as int64 micros comes back as the source's timestamp
    assert out.schema.simpleString() == _RUNNING_AGG_SCHEMA.format(ts="timestamp")
    got = {
        (r["user_id"], r["rcount"]): (r["rsum"], r["ema"])
        for r in out.collect()
    }
    # batch twin: cumulative window + closed-form ema on the same data
    from eventkit_spark.sources.tables import from_dataframe

    ef = from_dataframe(
        spark.read.parquet(stream_dir),
        value_cols=["value"], seq_col="event_id", ts_col="ts", key_cols=["user_id"],
    )
    batch = ef.fork_zip(lambda e: e.sum(), lambda e: e.ema(n=10), lambda e: e.count(start=1))
    for r in batch.df.collect():
        key = (r["user_id"], r["v2"])
        assert key in got
        rsum, ema = got[key]
        assert abs(rsum - r["v0"]) < 1e-6
        assert abs(ema - r["v1"]) < 1e-6


def test_tumbling_chunk(spark, stream_dir):
    sf = _stream(spark, stream_dir).with_watermark("0 seconds")
    out = sf.run_available_now(sink_df=sf.tumbling_chunk("6 hours"), name="ek_t3")
    rows = out.collect()
    for r in rows:
        assert len(r["value"]) == r["n"]
    # append mode withholds windows not yet passed by the watermark
    # (end > max event time) — everything earlier must have emitted
    src = spark.read.parquet(stream_dir)
    max_ts = src.agg(F.max("ts")).first()[0]
    expected = (
        src.groupBy("user_id", F.window("ts", "6 hours").alias("win"))
        .count()
        .filter(F.col("win.end") <= F.lit(max_ts))
        .count()
    )
    assert len(rows) == expected


def test_debounce_last_session(spark, stream_dir):
    sf = _stream(spark, stream_dir).with_watermark("0 seconds")
    out = sf.run_available_now(sink_df=sf.debounce_last("1 hour"), name="ek_t4")
    # batch twin restamps each burst's last row to ts+gap (= session
    # end); append mode only emits sessions closed by the watermark
    from eventkit_spark.sources.tables import from_dataframe

    src = spark.read.parquet(stream_dir)
    max_ts = src.agg(F.max("ts")).first()[0]
    ef = from_dataframe(
        src, value_cols=["value"], seq_col="event_id", ts_col="ts", key_cols=["user_id"],
    )
    expected = ef.debounce(3600.0).df.filter(F.col("ts") <= F.lit(max_ts)).count()
    assert out.count() == expected


def test_streaming_changes_pairwise(spark, stream_dir):
    sf = _stream(spark, stream_dir)
    out = sf.run_available_now(sink_df=sf.changes(), name="ek_t6")
    from eventkit_spark.sources.tables import from_dataframe

    ef = from_dataframe(
        spark.read.parquet(stream_dir),
        value_cols=["value"], seq_col="event_id", ts_col="ts", key_cols=["user_id"],
    )
    assert out.count() == ef.changes().df.count()
    outp = sf.run_available_now(sink_df=sf.pairwise(), name="ek_t7")
    assert outp.count() == ef.pairwise().df.count()


def test_streaming_ziplatest(spark, stream_dir):
    a = _stream(spark, stream_dir).filter("event_type = 'purchase'")
    b = _stream(spark, stream_dir).filter("event_type = 'click'")
    out = a.run_available_now(sink_df=a.ziplatest(b), name="ek_t8")
    from eventkit_spark.sources.tables import from_dataframe
    from eventkit_spark.frame import EventFrame

    src = spark.read.parquet(stream_dir)

    def typed(t):
        return from_dataframe(
            src.filter(F.col("event_type") == t),
            value_cols=["value"], seq_col="event_id", ts_col="ts", key_cols=["user_id"],
        )

    batch = typed("purchase").ziplatest(typed("click"))
    assert out.count() == batch.df.count()
    # spot-check per-user final pair equality
    bl = {
        r["user_id"]: (r["v0"], r["v1"])
        for r in batch.last().df.select("user_id", "v0", "v1").collect()
    }
    from pyspark.sql import Window as W

    wlast = W.partitionBy("user_id").orderBy(F.col("ts").desc())
    sl = {
        r["user_id"]: (r["v0"], r["v1"])
        for r in out.withColumn("rn", F.row_number().over(wlast)).filter("rn = 1").collect()
    }
    assert sl == bl


def test_streaming_zip(spark, stream_dir):
    a = _stream(spark, stream_dir).filter("event_type = 'purchase'")
    b = _stream(spark, stream_dir).filter("event_type = 'click'")
    out = a.run_available_now(sink_df=a.zip(b), name="ek_t9")
    from eventkit_spark.sources.tables import from_dataframe

    src = spark.read.parquet(stream_dir)

    def typed(t):
        return from_dataframe(
            src.filter(F.col("event_type") == t),
            value_cols=["value"], seq_col="event_id", ts_col="ts", key_cols=["user_id"],
        )

    batch = typed("purchase").zip(typed("click"))
    assert out.count() == batch.df.count()
    # exact pair equality by (user, pair index)
    sp = {(r["user_id"], r["pair_no"]): (r["v0"], r["v1"]) for r in out.collect()}
    bp = {(r["user_id"], r["seq"]): (r["v0"], r["v1"]) for r in batch.df.collect()}
    assert sp == bp


def test_merge_union(spark, stream_dir):
    a = _stream(spark, stream_dir).filter("event_type = 'purchase'")
    b = _stream(spark, stream_dir).filter("event_type = 'click'")
    out = a.merge(b).run_available_now(name="ek_t5")
    batch = spark.read.parquet(stream_dir).filter("event_type IN ('purchase','click')")
    assert out.count() == batch.count()


def test_streaming_sample(spark, stream_dir):
    """Streaming sample == batch sample: on each 'error' tick, the latest
    'purchase' value per user."""
    src_s = _stream(spark, stream_dir).filter("event_type = 'purchase'")
    tick_s = _stream(spark, stream_dir).filter("event_type = 'error'")
    out = src_s.run_available_now(sink_df=src_s.sample(tick_s), name="ek_t10")

    from eventkit_spark.sources.tables import from_dataframe

    src = spark.read.parquet(stream_dir)

    def typed(t):
        return from_dataframe(
            src.filter(F.col("event_type") == t),
            value_cols=["value"], seq_col="event_id", ts_col="ts", key_cols=["user_id"],
        )

    batch = typed("purchase").sample(typed("error"))
    sp = {(r["user_id"], r["ts"]): r["sampled"] for r in out.collect()}
    bp = {(r["user_id"], r["ts"]): r["value"] for r in batch.df.collect()}
    assert sp == bp
    assert len(sp) > 0


def test_streaming_throttle(spark, stream_dir):
    """Streaming throttle == batch throttle kernel on the same rows:
    identical re-timestamped emit times per (user, event)."""
    sf = _stream(spark, stream_dir)
    out = sf.run_available_now(sink_df=sf.throttle(maximum=5, interval=3600.0), name="ek_t11")

    from eventkit_spark.sources.tables import from_dataframe

    src = spark.read.parquet(stream_dir)
    ef = from_dataframe(
        src, value_cols=["value"], seq_col="event_id", ts_col="ts", key_cols=["user_id"],
    )
    batch = ef.throttle(maximum=5, interval=3600.0)
    # batch keeps original seq + re-stamped ts; stream emits (orig ts, emit_ts)
    bp = {(r["user_id"], r["event_id"]): r["ts"] for r in batch.df.collect()}
    src_ts = {(r["user_id"], r["event_id"]): r["ts"] for r in src.collect()}
    # map stream rows back to events via (user, original ts): original ts
    # can repeat within a user only if events share ts -- check uniqueness
    sp = {}
    for r in out.collect():
        sp[(r["user_id"], r["ts"])] = r["emit_ts"]
    n_checked = 0
    for (uid, eid), ts0 in src_ts.items():
        if (uid, ts0) in sp:
            assert sp[(uid, ts0)] == bp[(uid, eid)], (uid, eid)
            n_checked += 1
    assert n_checked >= len(src_ts) * 0.95  # ts collisions per user are rare


def test_foreach_latest(spark, stream_dir):
    """aiter(skip_to_last=True) analog: the callback sees only the newest
    row per key of each micro-batch."""
    sf = _stream(spark, stream_dir)
    seen = {}

    def consume(batch_df, _bid):
        for r in batch_df.collect():
            seen[r["user_id"]] = r["event_id"]

    q = sf.foreach_latest(consume, available_now=True)
    q.awaitTermination()
    batch = spark.read.parquet(stream_dir)
    last = {
        r["user_id"]: r["event_id"]
        for r in batch.groupBy("user_id").agg(
            F.max_by(F.col("event_id"), F.col("ts")).alias("event_id")
        ).collect()
    }
    assert seen == last


def _marble_stream(spark, tmp_path_factory, n_parents):
    """Parent stream for the emap goldens: parent k at ts = epoch + k s,
    value k, one key; plus a trailing empty-child parent (value
    n_parents) — the set_done clock row that flushes the stateful
    joiners."""
    import datetime as dt
    import pandas as pd

    path = str(tmp_path_factory.mktemp("emap_src"))
    epoch = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "ts": [epoch + dt.timedelta(seconds=k) for k in range(n_parents + 1)],
            "user_id": [1] * (n_parents + 1),
            "value": [float(k) for k in range(n_parents + 1)],
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
    from eventkit_spark.streaming import file_stream

    return file_stream(
        spark,
        path,
        schema="ts timestamp, user_id long, value double",
        value_cols=["value"],
        ts_col="ts",
        key_cols=["user_id"],
    )


def test_streaming_emap_family(spark, tmp_path_factory):
    """Streaming emap twins match the batch engine's four disciplines
    on the reference marble goldens (transform_test.py:117-166). The
    Arrow batch size is cut to 5 rows so each key group of children
    spans several chunks: the counter and cut states must still see
    them in (pseq, cidx) order."""
    from eventkit_spark.operators.higher_order import marble_children
    from eventkit_spark.sources.create import sequence

    goldens = {
        "merge": [
            "A   B    C    D",
            "_1   2  3    4",
            "__K   L     M   N",
        ],
        "chain": [
            "A    B    C    D           ",
            "_       1    2    3    4",
            "__                  K    L      M   N",
        ],
        "concat": [
            "A    B    C    D",
            "_       1    2    3    4",
            "__                  K    L      M   N",
        ],
        "switch": [
            "A    B    C    D           ",
            "_                 K    L      M   N",
            "__      1    2      3    4",
        ],
    }
    for i, (joiner, marbles) in enumerate(goldens.items()):
        # the trailing parent (value 3) selects an empty marble: the
        # batch engine ignores it, the streaming joiners use it as the
        # end-of-stream clock
        gen = marble_children(marbles + [""])
        batch = sequence(spark, [0, 1, 2, 3], interval=1.0)
        expect = batch.emap(gen, joiner).to_list()

        sf = _marble_stream(spark, tmp_path_factory, 3)
        out = sf.emap(gen, joiner)
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(key)
        spark.conf.set(key, "5")
        try:
            if isinstance(out, type(sf)):  # mergemap returns a StreamFrame
                got_df = sf.run_available_now(sink_df=out.df, name=f"ek_em{i}")
                rows = got_df.orderBy("ts", "pseq", "cidx").collect()
            else:
                got_df = sf.run_available_now(sink_df=out, name=f"ek_em{i}")
                order = ["chain_no"] if "chain_no" in got_df.columns else ["ts"]
                rows = got_df.orderBy(*order).collect()
        finally:
            spark.conf.set(key, old)
        got = [r["value"] for r in rows]
        assert got == expect, f"{joiner}: {got} != {expect}"


def test_streaming_asof_join(spark, stream_dir):
    """Streaming as-of join == batch asof_join on the same rows: every
    'purchase' row carries the latest 'error' value at-or-before it."""
    left_s = _stream(spark, stream_dir).filter("event_type = 'purchase'")
    right_s = _stream(spark, stream_dir).filter("event_type = 'error'")
    out = left_s.run_available_now(sink_df=left_s.asof_join(right_s), name="ek_t12")

    from eventkit_spark.operators.relational import asof_join

    src = spark.read.parquet(stream_dir)

    def flat(t):
        return src.filter(F.col("event_type") == t).select(
            "user_id", "ts", "value"
        )

    batch = asof_join(
        flat("purchase"),
        flat("error").withColumnRenamed("value", "rv"),
        "ts", by="user_id", right_cols=["rv"],
    )
    sp = {(r["user_id"], r["ts"], r["value"]): (r["value_r"], r["ts_r"])
          for r in out.collect()}
    bp = {(r["user_id"], r["ts"], r["value"]): (r["rv"], r["ts_r"])
          for r in batch.collect()}
    assert sp == bp
    assert len(sp) > 0
    assert any(v[0] is not None for v in sp.values())


def test_streaming_llm_text_columns(spark, tmp_path_factory):
    """The LLM text-analysis columns are pure Column expressions, so
    they run unchanged over an unbounded stream: streamed text_stats ==
    batch text_stats row for row."""
    from eventkit_spark.llm.text import text_stats
    from eventkit_spark.sources.tables import load_table
    from eventkit_spark.streaming import file_stream

    path = str(tmp_path_factory.mktemp("docs_stream"))
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    docs.write.mode("overwrite").parquet(path)

    sf = file_stream(
        spark, path,
        schema="doc_id long, text string, lang string, source string, n_chars long",
        value_cols=["text"], ts_col="doc_id",  # no event time needed for stateless cols
    )
    out = sf.run_available_now(sink_df=text_stats(sf.df), name="ek_llm1")
    sp = {r["doc_id"]: (r["n_tokens"], r["quality"], r["lang_pred"]) for r in out.collect()}
    bp = {r["doc_id"]: (r["n_tokens"], r["quality"], r["lang_pred"])
          for r in text_stats(docs).collect()}
    assert sp == bp and len(sp) == 500

    # redact_pii is likewise a pure projection: streamed == batch
    from eventkit_spark.llm.text import redact_pii

    out2 = sf.run_available_now(sink_df=redact_pii(sf.df), name="ek_llm2")
    sp2 = {r["doc_id"]: r["text"] for r in out2.collect()}
    bp2 = {r["doc_id"]: r["text"] for r in redact_pii(docs).collect()}
    assert sp2 == bp2 and len(sp2) == 500

    # c4_filters too: stateless projection + filter, streamed == batch.
    # The synthetic docs carry no punctuation, so decorate: every third
    # doc keeps its bare line (dropped by the terminal-punct rule), the
    # rest get a final period (kept) — n_kept then varies 0/1.
    from eventkit_spark.llm.text import c4_filters

    def _c4(df):
        decorated = df.withColumn(
            "text",
            F.when(F.col("doc_id") % 3 == 0, F.col("text")).otherwise(
                F.concat(F.col("text"), F.lit("."))
            ),
        )
        return c4_filters(decorated, min_kept_lines=0)

    out3 = sf.run_available_now(sink_df=_c4(sf.df), name="ek_llm3")
    sp3 = {r["doc_id"]: (r["n_lines"], r["n_kept"]) for r in out3.collect()}
    bp3 = {r["doc_id"]: (r["n_lines"], r["n_kept"]) for r in _c4(docs).collect()}
    assert sp3 == bp3 and len(sp3) == 500
    assert {v[1] for v in sp3.values()} == {0, 1}

    # char_entropy: the Arrow entropy kernel is per-row stateless, so
    # the same plan runs over the unbounded stream: streamed == batch
    from eventkit_spark.llm.text import char_entropy

    out4 = sf.run_available_now(sink_df=char_entropy(sf.df), name="ek_llm4")
    sp4 = {r["doc_id"]: (r["entropy"], r["digit_ratio"]) for r in out4.collect()}
    bp4 = {r["doc_id"]: (r["entropy"], r["digit_ratio"]) for r in char_entropy(docs).collect()}
    assert sp4 == bp4 and len(sp4) == 500


def test_streaming_gopher_and_url_columns(spark, tmp_path_factory):
    """gopher_rules and url_canonicalize are stateless projections, so
    they run unchanged over an unbounded stream: streamed == batch."""
    from pyspark.sql import functions as F

    from eventkit_spark.llm.text import gopher_rules
    from eventkit_spark.llm.web import url_canonicalize
    from eventkit_spark.sources.tables import load_table
    from eventkit_spark.streaming import file_stream

    path = str(tmp_path_factory.mktemp("docs_stream2"))
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    docs.write.mode("overwrite").parquet(path)

    sf = file_stream(
        spark, path,
        schema="doc_id long, text string, lang string, source string, n_chars long",
        value_cols=["text"], ts_col="doc_id",
    )
    out = sf.run_available_now(
        sink_df=gopher_rules(sf.df, min_words=30, min_stop_hits=1), name="ek_gph"
    )
    sp = {r["doc_id"]: (r["n_words"], r["keep"]) for r in out.collect()}
    bp = {r["doc_id"]: (r["n_words"], r["keep"])
          for r in gopher_rules(docs, min_words=30, min_stop_hits=1).collect()}
    assert sp == bp and len(sp) == 500

    mkurl = lambda d: d.select(  # noqa: E731
        "doc_id", F.concat(F.lit("HTTP://"), F.col("source"),
                           F.lit(".Ex.com/p/"), F.col("doc_id").cast("string"),
                           F.lit("?utm_source=s#f")).alias("url"))
    out2 = sf.run_available_now(sink_df=url_canonicalize(mkurl(sf.df)), name="ek_url")
    sp2 = {r["doc_id"]: (r["canonical"], r["host"]) for r in out2.collect()}
    bp2 = {r["doc_id"]: (r["canonical"], r["host"])
           for r in url_canonicalize(mkurl(docs)).collect()}
    assert sp2 == bp2 and len(sp2) == 500


def test_streaming_resample_parity(spark, tmp_path_factory):
    """Streaming OHLC resample (tumbling window + min_by/max_by) ==
    batch resample tick-for-tick over a drained stream. Endpoint ties
    break on ts alone in streaming (no seq column); event timestamps
    are unique per key in the testdata, so the comparison is exact."""
    from pyspark.sql import functions as F

    from eventkit_spark.sources.tables import load_events
    from eventkit_spark.streaming import file_stream

    path = str(tmp_path_factory.mktemp("ev_resample"))
    ev = load_events(spark, "/root/testdata/sf0.001")
    ev.df.write.mode("overwrite").parquet(path)

    sf = file_stream(
        spark, path,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        key_cols=["user_id"],
    )
    agg = sf.resample("1 hour")
    sf.run_available_now(
        sink_df=agg, name="ek_resample", output_mode="complete"
    )
    out = spark.sql(
        "SELECT user_id, unix_micros(win_start) AS ws, open, high, low, close, n, vsum"
        " FROM ek_resample"
    )
    batch = ev.resample(3600.0).select(
        "user_id", (F.col("bucket") * 3600000000).alias("ws"),
        "open", "high", "low", "close", "n", "vsum",
    )
    a = out.toPandas().sort_values(["user_id", "ws"]).reset_index(drop=True)
    b = batch.toPandas().sort_values(["user_id", "ws"]).reset_index(drop=True)[a.columns]
    assert a.equals(b) and len(a) == 951


def test_streaming_cusum(spark, stream_dir):
    """Streaming CUSUM == batch CUSUM kernel on the same rows:
    identical accumulators and alarms per (user, ts)."""
    sf = _stream(spark, stream_dir)
    out = sf.run_available_now(
        sink_df=sf.cusum(50.0, h=150.0, slack=15.0), name="ek_cusum"
    )

    from eventkit_spark.sources.tables import from_dataframe

    src = spark.read.parquet(stream_dir)
    ef = from_dataframe(
        src, value_cols=["value"], seq_col="event_id", ts_col="ts", key_cols=["user_id"],
    )
    batch = ef.cusum(50.0, h=150.0, slack=15.0)
    bp = {(r["user_id"], r["ts"]): (r["cusum_hi"], r["cusum_lo"], r["alarm"])
          for r in batch.df.collect()}
    sp = {(r["user_id"], r["ts"]): (r["cusum_hi"], r["cusum_lo"], r["alarm"])
          for r in out.collect()}
    assert sp == bp and len(sp) == 1000
    assert any(v[2] for v in sp.values())  # the fixture actually alarms


def test_streaming_anomaly(spark, stream_dir):
    """Streaming trailing z-score == batch RANGE-frame anomaly per
    (user, ts). Rows sharing a (user, ts) are excluded: the batch RANGE
    frame is value-inclusive over ties while the stream scores rows in
    arrival order (documented divergence, collisions are rare)."""
    sf = _stream(spark, stream_dir)
    out = sf.run_available_now(
        sink_df=sf.anomaly(86400.0, z=2.0), name="ek_anom"
    )

    from eventkit_spark.sources.tables import from_dataframe

    src = spark.read.parquet(stream_dir)
    ef = from_dataframe(
        src, value_cols=["value"], seq_col="event_id", ts_col="ts", key_cols=["user_id"],
    )
    batch = ef.anomaly(86400.0, z=2.0)
    from collections import Counter

    dup = {k for k, c in Counter(
        (r["user_id"], r["ts"]) for r in src.select("user_id", "ts").collect()
    ).items() if c > 1}
    bp = {(r["user_id"], r["ts"]): (r["roll_n"], r["zscore"], r["is_anomaly"])
          for r in batch.df.collect() if (r["user_id"], r["ts"]) not in dup}
    sp = {(r["user_id"], r["ts"]): (r["roll_n"], r["zscore"], r["alarm"])
          for r in out.collect() if (r["user_id"], r["ts"]) not in dup}
    assert len(sp) >= 990  # collisions are rare in the fixture
    assert sp == bp
    assert any(v[2] for v in sp.values())


def test_streaming_count_min_parity(spark, stream_dir):
    """Streaming CMS cell table == batch count_min_cells on the same
    rows (cells are pure sums -> order/micro-batch independent), and
    batch estimates over the sunk cells dominate true counts."""
    from eventkit_spark.llm.sketch import count_min_cells, count_min_estimate

    sf = _stream(spark, stream_dir)
    cells = sf.run_available_now(
        sink_df=sf.count_min("event_type", d=3, w=8),
        name="ek_cms", output_mode="complete",
    )
    got = {(r["row"], r["bucket"]): r["cnt"] for r in cells.collect()}
    batch_df = spark.read.parquet(stream_dir)
    exp = {(r["row"], r["bucket"]): r["cnt"]
           for r in count_min_cells(batch_df, "event_type", d=3, w=8).collect()}
    assert got == exp
    # estimates from the sunk table dominate the exact counts
    sunk = spark.sql("SELECT * FROM ek_cms")
    truth = {r["event_type"]: r["cnt"] for r in
             batch_df.groupBy("event_type").agg(F.count("*").alias("cnt")).collect()}
    est = {r["event_type"]: r["est"] for r in
           count_min_estimate(sunk, batch_df.select("event_type").distinct(),
                              "event_type", d=3, w=8).collect()}
    assert all(est[k] >= truth[k] for k in truth)


def test_streaming_interval_join_parity(spark, stream_dir, tmp_path_factory):
    """Native watermarked stream-stream interval join == the batch
    binned range join on the same data (inner, keyed, start <= ts <=
    end), with the max-length bound tight enough to keep every
    genuine match."""
    from eventkit_spark.operators.relational import interval_join
    from eventkit_spark.streaming import file_stream

    ev = spark.read.parquet(stream_dir)
    iv = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("start"))
        .select(
            "user_id",
            "start",
            (F.col("start") + F.expr("INTERVAL 2 HOURS")).alias("end"),
            F.concat(F.lit("w"), F.col("user_id")).alias("label"),
        )
    )
    ipath = str(tmp_path_factory.mktemp("intervals"))
    iv.write.mode("overwrite").parquet(ipath)

    sf = _stream(spark, stream_dir)
    fi = file_stream(
        spark, ipath,
        schema="user_id long, start timestamp, end timestamp, label string",
        value_cols=["label"], ts_col="start", key_cols=["user_id"],
    )
    out = sf.interval_join(fi, max_length_s=7200, watermark="0 seconds")
    q = (
        out.writeStream.format("memory").queryName("ek_ij")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {(r["event_id"], r["label_r"])
           for r in spark.sql("SELECT event_id, label_r FROM ek_ij").collect()}
    exp = {(r["event_id"], r["label"])
           for r in interval_join(ev, spark.read.parquet(ipath), by="user_id").collect()}
    assert got == exp and len(got) > 0


def test_streaming_hll_parity(spark, stream_dir):
    """Streaming HLL register table == batch hll_registers on the same
    rows (max per bucket is micro-batch independent)."""
    from eventkit_spark.llm.sketch import hll_registers

    sf = _stream(spark, stream_dir)
    regs = sf.run_available_now(
        sink_df=sf.hll("event_id", p=7), name="ek_hll",
        output_mode="complete",
    )
    got = {(r["bucket"]): r["reg"] for r in regs.collect()}
    exp = {(r["bucket"]): r["reg"]
           for r in hll_registers(spark.read.parquet(stream_dir), "event_id", p=7).collect()}
    assert got == exp and len(got) > 0


def test_streaming_sketch_multibatch_invariance(spark, stream_dir, tmp_path):
    """r11: the native complete-mode sketch aggregations behind the
    cms_stream / hll_stream contracts must be micro-batch-COUNT
    invariant — cells merge by pure sum, registers by max, so a 4-file
    maxFilesPerTrigger=1 replay must sink the exact cell/register
    table the single-batch replay does. (The single-batch == batch
    parity is pinned separately above; this pins the incremental
    complete-mode state merge path the contracts never exercise.)"""
    import shutil
    import time as _time

    from pyspark.sql import Window

    from eventkit_spark.streaming.stream import StreamFrame

    src = spark.read.parquet(stream_dir)
    # eager pin: the four per-quartile writes below would otherwise
    # re-run the global ntile sort once each (the r11 self-review
    # fixed the same pattern in examples/stream_replay_gate.py)
    qt = src.withColumn(
        "__q", F.ntile(4).over(Window.orderBy("ts", "event_id"))
    ).localCheckpoint()
    multi_dir = str(tmp_path / "multi")
    os.makedirs(multi_dir)
    t0 = _time.time()
    for i in range(1, 5):
        stage = str(tmp_path / f"stage_{i}")
        qt.filter(F.col("__q") == i).drop("__q").coalesce(1).write.parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        dst = os.path.join(multi_dir, f"f{i}.parquet")
        shutil.copyfile(os.path.join(stage, part), dst)
        os.utime(dst, (t0 + i, t0 + i))
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")

    def frame(multi):
        reader = spark.readStream.format("parquet").schema(schema)
        if multi:
            reader = reader.option("maxFilesPerTrigger", 1)
        return StreamFrame(
            reader.load(multi_dir), value_cols=["value"],
            ts_col="ts", key_cols=["user_id"],
        )

    def run_complete(df, name):
        # hand-rolled (not run_available_now): this test must read the
        # query handle's recentProgress to prove >= 4 micro-batches ran
        q = (
            df.writeStream.format("memory").queryName(name)
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        return spark.sql(f"SELECT * FROM {name}"), n_batches

    for label, mk in {
        "cms": lambda sf: sf.count_min("event_type", d=3, w=8),
        "hll": lambda sf: sf.hll("event_id", p=7),
    }.items():
        res = {}
        for multi in (True, False):
            out, n_batches = run_complete(
                mk(frame(multi)), f"ek_skx_{label}_{multi}"
            )
            if multi:
                assert n_batches >= 4, (label, n_batches)
            res[multi] = sorted(tuple(r) for r in out.collect())
        assert res[True] == res[False] and res[True], label


def test_streaming_heavy_hitters_guarantee(spark, stream_dir):
    """Streaming MG summary per user: the latest snapshot's candidate
    set must contain every event_type with true count > n/k, keep at
    most k-1 counters, carry exact n_seen, and est must lower-bound the
    true count within n/k (the MG error bound) — state carried across
    micro-batches."""
    from collections import Counter

    k = 3
    sf = _stream(spark, stream_dir)
    out = sf.run_available_now(
        sink_df=sf.heavy_hitters(k=k, by="event_type"), name="ek_hh"
    ).collect()
    latest = {}
    for r in out:
        cur = latest.get(r["user_id"])
        if cur is None or r["n_seen"] > cur[0]["n_seen"]:
            latest[r["user_id"]] = [r]
        elif r["n_seen"] == cur[0]["n_seen"]:
            cur.append(r)
    src = spark.read.parquet(stream_dir).select("user_id", "event_type").collect()
    truth = {}
    for r in src:
        truth.setdefault(r["user_id"], Counter())[r["event_type"]] += 1
    assert set(latest) == set(truth)
    for uid, rows in latest.items():
        n = sum(truth[uid].values())
        assert rows[0]["n_seen"] == n
        assert len(rows) <= k - 1
        cand = {r["item"]: r["est"] for r in rows}
        for item, cnt in truth[uid].items():
            if cnt * k > n:
                assert item in cand, f"user {uid}: {item} ({cnt} > {n}/{k}) missing"
        for item, est in cand.items():
            true_cnt = truth[uid][item]
            assert est <= true_cnt <= est + n // k


def test_streaming_attribution_parity(spark, stream_dir):
    """Streaming last-touch attribution == batch attribution row-for-row
    (click credits purchase, 1-hour lookback NULLs stale credits)."""
    s = _stream(spark, stream_dir)
    out = s.run_available_now(
        sink_df=s.attribution(
            "event_type = 'click'", "event_type = 'purchase'", lookback=3600.0
        ),
        name="ek_attr",
    )

    from eventkit_spark.operators.relational import attribution

    src = spark.read.parquet(stream_dir)
    batch = attribution(
        src,
        touch="event_type = 'click'",
        conversion="event_type = 'purchase'",
        lookback=3600.0,
    )
    # key streaming rows by (user, conversion ts); batch by conv_id -> ts
    ts_of = {
        r["event_id"]: r["ts"]
        for r in src.filter("event_type = 'purchase'").collect()
    }
    sp = {
        (r["user_id"], r["ts"]): r["delta_us"] for r in out.collect()
    }
    bp = {
        (r["user_id"], ts_of[r["conv_id"]]): r["delta_us"]
        for r in batch.collect()
    }
    assert sp == bp and len(sp) > 0
    assert any(v is not None for v in sp.values())
    assert any(v is None for v in sp.values())  # lookback actually cuts


def test_streaming_holt(spark, stream_dir):
    """Streaming Holt smoothing == batch holt kernel on the same rows:
    identical level/trend/forecast per (user, ts)."""
    sf = _stream(spark, stream_dir)
    out = sf.run_available_now(
        sink_df=sf.holt(alpha=0.5, beta=0.3), name="ek_holt"
    )

    from eventkit_spark.sources.tables import from_dataframe

    src = spark.read.parquet(stream_dir)
    ef = from_dataframe(
        src, value_cols=["value"], seq_col="event_id", ts_col="ts", key_cols=["user_id"],
    )
    batch = ef.holt(alpha=0.5, beta=0.3)
    bp = {(r["user_id"], r["ts"]): (r["level"], r["trend"], r["forecast"])
          for r in batch.df.collect()}
    sp = {(r["user_id"], r["ts"]): (r["level"], r["trend"], r["forecast"])
          for r in out.collect()}
    assert sp == bp and len(sp) == 1000


def test_streaming_kalman(spark, stream_dir):
    """Streaming Kalman == batch kalman1d kernel on the same rows."""
    sf = _stream(spark, stream_dir)
    out = sf.run_available_now(sink_df=sf.kalman1d(), name="ek_kf")

    from eventkit_spark.sources.tables import from_dataframe

    src = spark.read.parquet(stream_dir)
    ef = from_dataframe(
        src, value_cols=["value"], seq_col="event_id", ts_col="ts", key_cols=["user_id"],
    )
    batch = ef.kalman1d()
    bp = {(r["user_id"], r["ts"]): (r["kf_x"], r["kf_p"], r["kf_gain"])
          for r in batch.df.collect()}
    sp = {(r["user_id"], r["ts"]): (r["kf_x"], r["kf_p"], r["kf_gain"])
          for r in out.collect()}
    assert sp == bp and len(sp) == 1000


def test_streaming_holt_kalman_null_values_match_batch(spark, tmp_path):
    """NULL values: streaming holt / kalman1d == their batch twins over a
    seeded stream with ~15% NULL values (one key starts on a NULL),
    replayed as three micro-batches so a NaN-poisoned state carries
    across batch boundaries. Before, the streaming rounder raised
    ``cannot convert float NaN to integer`` on the first NULL."""
    import datetime as dt

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eventkit_spark.sources.tables import from_dataframe
    from eventkit_spark.streaming import file_stream

    rng = np.random.default_rng(20261018)
    n, keys = 180, 6
    users = rng.integers(0, keys, n)
    values = np.round(rng.normal(50.0, 20.0, n), 3).tolist()
    values = [None if m else v for v, m in zip(values, rng.random(n) < 0.15)]
    values[int(np.flatnonzero(users == 0)[0])] = None  # key 0 opens on NULL
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = 1_700_000_000
    for f in range(3):
        lo, hi = f * n // 3, (f + 1) * n // 3
        tbl = pa.table({
            "event_id": pa.array(range(lo, hi), pa.int64()),
            "ts": pa.array([base + dt.timedelta(seconds=i) for i in range(lo, hi)],
                           pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(users[lo:hi].tolist(), pa.int64()),
            "value": pa.array(values[lo:hi], pa.float64()),
        })
        path = os.path.join(src, f"part{f}.parquet")
        pq.write_table(tbl, path)
        os.utime(path, (t0 + f, t0 + f))  # oldest-first pickup order
    schema = "event_id long, ts timestamp, user_id long, value double"
    ef = from_dataframe(
        spark.read.schema(schema).parquet(src),
        value_cols=["value"], seq_col="event_id", ts_col="ts", key_cols=["user_id"],
    )
    for op, cols in (("holt", ("value", "level", "trend", "forecast")),
                     ("kalman1d", ("value", "kf_x", "kf_p", "kf_gain"))):
        sf = file_stream(spark, src, schema=schema, value_cols=["value"], ts_col="ts",
                         key_cols=["user_id"], max_files_per_trigger=1)
        out = sf.run_available_now(sink_df=getattr(sf, op)(), name=f"ek_null_{op}")
        got = {(r["user_id"], r["ts"]): tuple(r[c] for c in cols) for r in out.collect()}
        want = {(r["user_id"], r["ts"]): tuple(r[c] for c in cols)
                for r in getattr(ef, op)().df.collect()}
        assert got == want and len(got) == n, op
        assert any(v[0] is None for v in got.values()), op
        assert any(v[1] is None for v in got.values()), op


def _combo_stream(spark, tmp_path_factory, times, values, tag):
    """One combinator source: rows at epoch+times seconds plus a
    trailing NULL-value end marker (the done row _combine_cut flushes
    on), single key."""
    import datetime as dt

    import pandas as pd

    path = str(tmp_path_factory.mktemp(f"combo_{tag}"))
    epoch = dt.datetime(2024, 1, 1)
    end = max(times) + 100.0
    pdf = pd.DataFrame(
        {
            "ts": [epoch + dt.timedelta(seconds=t) for t in [*times, end]],
            "user_id": [1] * (len(times) + 1),
            "value": [float(v) for v in values] + [None],
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
    from eventkit_spark.streaming import file_stream

    return file_stream(
        spark,
        path,
        schema="ts timestamp, user_id long, value double",
        value_cols=["value"],
        ts_col="ts",
        key_cols=["user_id"],
    )


def test_streaming_combinator_cuts(spark, tmp_path_factory):
    """Streaming concat/switch/chain match the batch combinators on a
    three-source first-emit-cut scenario (reference golden semantics:
    concat kills earlier sources at a later source's first emit,
    switch keeps each source live until the next one starts)."""
    from eventkit_spark.sources.create import sequence

    specs = [
        ([0.0, 1.0, 2.0, 3.0, 4.0], [10, 11, 12, 13, 14]),
        ([2.5, 3.5], [20, 21]),
        ([3.2, 5.0], [30, 31]),
    ]
    batch = [
        sequence(spark, [float(v) for v in vals], times=times)
        for times, vals in specs
    ]
    for disc in ("concat", "switch", "chain"):
        expect = getattr(batch[0], disc)(batch[1], batch[2]).to_list()
        streams = [
            _combo_stream(spark, tmp_path_factory, times, vals, f"{disc}{i}")
            for i, (times, vals) in enumerate(specs)
        ]
        out = getattr(streams[0], disc)(streams[1], streams[2])
        got_df = streams[0].run_available_now(sink_df=out, name=f"ek_cc_{disc}")
        order = ["chain_no"] if disc == "chain" else ["ts", "src"]
        got = [r["value"] for r in got_df.orderBy(*order).collect()]
        assert got == expect, f"{disc}: {got} != {expect}"


def test_sorted_chunks_one_frame_across_chunks():
    """The state kernels' chunk helper returns a key group's micro-batch
    as ONE frame sorted across ALL Arrow chunks (a per-chunk sort would
    fold rows out of event-time order, the r7-ADVICE bug class), or
    None when the group has no rows. Pure pandas, no Spark session."""
    import pandas as pd

    from eventkit_spark.streaming.stream import _sorted_chunks

    # chunk 1 holds ts 0 and 2, chunk 2 holds ts 1 and 3, and an empty
    # chunk sits between them
    chunks = [
        pd.DataFrame({"k": [1, 1], "ts": [0, 2], "v": [10.0, 30.0]}),
        pd.DataFrame({"k": pd.Series([], dtype="int64"),
                      "ts": pd.Series([], dtype="int64"),
                      "v": pd.Series([], dtype="float64")}),
        pd.DataFrame({"k": [1, 1], "ts": [1, 3], "v": [20.0, 40.0]}),
    ]
    pdf = _sorted_chunks(iter(chunks), "ts")
    assert list(pdf["ts"]) == [0, 1, 2, 3]
    assert list(pdf["v"]) == [10.0, 20.0, 30.0, 40.0]

    assert _sorted_chunks(iter([]), "ts") is None
    assert _sorted_chunks(iter([chunks[1], chunks[1]]), "ts") is None

    # takeuntil's key: notifier rows (__n=1) sort before source rows at
    # an equal event time, across chunks
    tagged = [
        pd.DataFrame({"ts": [5, 1], "__n": [0, 0], "__v": [50.0, 10.0]}),
        pd.DataFrame({"ts": [5, 3], "__n": [1, 0], "__v": [None, 30.0]}),
    ]
    pdf = _sorted_chunks(iter(tagged), ["ts", "__n"], ascending=[True, False])
    assert list(zip(pdf["ts"], pdf["__n"])) == [(1, 0), (3, 0), (5, 1), (5, 0)]
    assert list(pdf["__v"].fillna(-1.0)) == [10.0, 30.0, -1.0, 50.0]


def test_streaming_store_dedup_and_probe(spark, tmp_path_factory):
    """The persisted-store lifecycle composes with Structured Streaming
    two ways: (a) ingest dedup — foreachBatch feeds each micro-batch
    through exact_dedup_incremental, so the store carries accept state
    ACROSS batches; (b) a stateless stream-static LEFT ANTI join against
    the store's fingerprint parquet drops already-accepted texts
    in-stream (append-mode safe, no state store)."""
    from eventkit_spark.llm.dedup import (
        exact_dedup_incremental, exact_dedup_store_init,
    )
    from eventkit_spark.streaming import file_stream

    base = tmp_path_factory.mktemp("store_stream")
    store = str(base / "store")
    seed = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    exact_dedup_store_init(seed, store)
    batch = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, "gamma"), (13, "delta")],
        "doc_id long, text string",
    )
    src = str(base / "in")
    batch.coalesce(1).write.mode("overwrite").parquet(src)

    # (a) ingest dedup via foreachBatch: survivors accumulate per batch
    sf = file_stream(
        spark, src, schema="doc_id long, text string",
        value_cols=["text"], ts_col="doc_id",
    )
    accepted = []

    def ingest(bdf, _bid):
        accepted.extend(
            map(tuple, exact_dedup_incremental(bdf, store).collect())
        )

    q = sf.foreach_batch(ingest, available_now=True)
    q.awaitTermination(120)
    assert sorted(accepted) == [(11, 2), (13, 1)]

    # (b) stateless stream-static anti-join probe: only never-seen texts
    # pass (gamma/delta are in the store now — committed by (a))
    from pyspark.sql import functions as F

    probe_rows = spark.createDataFrame(
        [(20, "alpha"), (21, "gamma"), (22, "epsilon")],
        "doc_id long, text string",
    )
    src2 = str(base / "in2")
    probe_rows.coalesce(1).write.mode("overwrite").parquet(src2)
    sf2 = file_stream(
        spark, src2, schema="doc_id long, text string",
        value_cols=["text"], ts_col="doc_id",
    )
    hashes = spark.read.parquet(f"{store}/hashes")
    fresh = sf2.df.withColumn("h", F.xxhash64("text")).withColumn(
        "h2", F.md5("text")
    ).join(hashes, ["h", "h2"], "left_anti")
    out = sf2.run_available_now(sink_df=fresh, name="ek_store_probe")
    assert sorted(r["doc_id"] for r in out.collect()) == [22]


def test_streaming_interval_join_fractional_bound(spark, stream_dir, tmp_path_factory):
    """Regression (r6 advice): a fractional max_length_s like 0.5 used
    to be int()-truncated to 0, collapsing the state-retention bound
    to ts <= start and dropping in-interval matches. The bound now
    carries millisecond granularity; non-positive bounds are rejected
    at call time."""
    from eventkit_spark.streaming import file_stream

    ev = spark.read.parquet(stream_dir)
    iv = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("start"))
        .select(
            "user_id", "start",
            (F.col("start") + F.expr("INTERVAL 2 HOURS")).alias("end"),
        )
    )
    ipath = str(tmp_path_factory.mktemp("ivfrac"))
    iv.write.mode("overwrite").parquet(ipath)
    sf = _stream(spark, stream_dir)
    fi = file_stream(
        spark, ipath,
        schema="user_id long, start timestamp, end timestamp",
        value_cols=[], ts_col="start", key_cols=["user_id"],
    )
    out = sf.interval_join(fi, max_length_s=0.5, watermark="0 seconds")
    # the bound reaches the join condition as a 500 ms interval literal
    bounds = {
        x.value() for x in plan_expressions(out, "analyzed")
        if node_class(x) == "Literal" and node_class(x.dataType()) == "DayTimeIntervalType"
    }
    assert 500_000 in bounds, bounds  # microseconds

    with pytest.raises(ValueError, match="positive"):
        sf.interval_join(fi, max_length_s=0.0)


def test_streaming_winnow_parity(spark, tmp_path_factory):
    """Winnowing is a per-document stateless kernel, so the streamed
    fingerprints equal the batch ones exactly — micro-batch boundaries
    cannot change a per-row computation."""
    from eventkit_spark.llm.text import winnow_fingerprints
    from eventkit_spark.sources.tables import load_table
    from eventkit_spark.streaming import file_stream

    path = str(tmp_path_factory.mktemp("docs_winnow"))
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    docs.write.mode("overwrite").parquet(path)
    sf = file_stream(
        spark, path,
        schema="doc_id long, text string, lang string, source string, n_chars long",
        value_cols=["text"], ts_col="doc_id",
    )
    out = sf.run_available_now(
        sink_df=winnow_fingerprints(sf.df, k=5, w=4), name="ek_winnow"
    )
    sp = {tuple(r) for r in out.collect()}
    bp = {tuple(r) for r in winnow_fingerprints(docs, k=5, w=4).collect()}
    assert sp == bp and len(sp) > 0


def test_streaming_unique_parity(spark, stream_dir):
    """Streaming unique == batch unique on the surviving KEY SET: the
    unbounded dropDuplicates form dedups (user_id, value) exactly like
    the batch window form; the by= expression path dedups a derived
    key; within_watermark requires a watermark and still returns every
    distinct key of a bounded replay."""
    sf = _stream(spark, stream_dir)
    out = sf.unique().run_available_now(name="ek_uniq1")
    got = {(r["user_id"], r["value"]) for r in out.collect()}

    from eventkit_spark.sources.tables import from_dataframe

    ef = from_dataframe(
        spark.read.parquet(stream_dir),
        value_cols=["value"], seq_col="event_id", ts_col="ts",
        key_cols=["user_id"],
    )
    exp = {(r["user_id"], r["value"]) for r in ef.unique().df.collect()}
    assert got == exp
    # one row per key — dedup actually happened
    assert out.count() == len(exp)

    # by= expression: per-user parity of surviving derived keys
    out2 = sf.unique(by=["event_type"]).run_available_now(name="ek_uniq2")
    got2 = {(r["user_id"], r["event_type"]) for r in out2.collect()}
    exp2 = {(r["user_id"], r["event_type"]) for r in
            ef.unique(by="event_type").df.collect()}
    assert got2 == exp2

    # watermark-bounded state: bounded replay still yields every key
    out3 = (
        _stream(spark, stream_dir)
        .with_watermark("1 hour")
        .unique(by=["event_type"], within_watermark=True)
        .run_available_now(name="ek_uniq3")
    )
    got3 = {(r["user_id"], r["event_type"]) for r in out3.collect()}
    assert got3 == exp2


def test_streaming_take_skip_parity(spark, stream_dir):
    """Streaming take/skip == batch take/skip row-for-row on an
    ordered replay (counter state per key); take(n) union skip(n)
    partitions the stream."""
    from eventkit_spark.sources.tables import from_dataframe

    ef = from_dataframe(
        spark.read.parquet(stream_dir),
        value_cols=["value"], seq_col="event_id", ts_col="ts",
        key_cols=["user_id"],
    )
    sf = _stream(spark, stream_dir)

    out_t = sf.run_available_now(sink_df=sf.take(3), name="ek_take")
    got_t = {(r["user_id"], r["ts"], r["value"]) for r in out_t.collect()}
    exp_t = {(r["user_id"], r["ts"], r["value"])
             for r in ef.take(3).df.collect()}
    assert got_t == exp_t

    out_s = sf.run_available_now(sink_df=sf.skip(3), name="ek_skip")
    got_s = {(r["user_id"], r["ts"], r["value"]) for r in out_s.collect()}
    exp_s = {(r["user_id"], r["ts"], r["value"])
             for r in ef.skip(3).df.collect()}
    assert got_s == exp_s
    assert not (got_t & got_s)


def test_streaming_take_budget_parity(spark, stream_dir):
    """Streaming take_budget == the batch window-cumsum rule (the
    token_quota discipline): keep a row iff the running per-key cost
    total INCLUSIVE of it stays within budget; overflowing rows still
    accrue cost (no backfill)."""
    sf = _stream(spark, stream_dir)
    out = sf.run_available_now(sink_df=sf.take_budget(1500.0), name="ek_tbud")
    got = {(r["user_id"], r["ts"], r["value"]) for r in out.collect()}

    pdf = (
        spark.read.parquet(stream_dir)
        .select("user_id", "ts", "event_id", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    exp = set()
    for uid, g in pdf.groupby("user_id"):
        spent = 0.0
        for _, row in g.iterrows():
            spent += float(row["value"])
            if spent <= 1500.0:
                exp.add((uid, row["ts"].to_pydatetime(), row["value"]))
    assert got == exp
    assert exp  # non-vacuous: some rows kept
    assert len(exp) < len(pdf)  # ...and some dropped


def test_streaming_takeuntil_parity(spark, stream_dir):
    """Streaming takeuntil == batch takeuntil on an ordered replay:
    per-user 'error' events cut the per-user 'purchase' stream at the
    first error's event time (strictly before)."""
    from eventkit_spark.sources.tables import from_dataframe
    from eventkit_spark.streaming import file_stream

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    src = file_stream(spark, stream_dir, schema=schema,
                      value_cols=["value"], ts_col="ts",
                      key_cols=["user_id"]).filter("event_type = 'purchase'")
    ntf = file_stream(spark, stream_dir, schema=schema,
                      value_cols=["value"], ts_col="ts",
                      key_cols=["user_id"]).filter("event_type = 'error'")
    out = src.run_available_now(sink_df=src.takeuntil(ntf), name="ek_tu")
    got = {(r["user_id"], r["ts"], r["value"]) for r in out.collect()}

    df = spark.read.parquet(stream_dir)
    ef = from_dataframe(
        df.filter(F.col("event_type") == "purchase"),
        value_cols=["value"], seq_col="event_id", ts_col="ts",
        key_cols=["user_id"],
    )
    nf = from_dataframe(
        df.filter(F.col("event_type") == "error"),
        value_cols=["value"], seq_col="event_id", ts_col="ts",
        key_cols=["user_id"],
    )
    exp = {(r["user_id"], r["ts"], r["value"])
           for r in ef.takeuntil(nf).df.collect()}
    assert got == exp and got
    # the cut must remove something, or the parity is vacuous
    assert len(got) < df.filter(F.col("event_type") == "purchase").count()


def test_streaming_takewhile_dropwhile_parity(spark, stream_dir):
    """Streaming takewhile/dropwhile == batch forms row-for-row on an
    ordered replay: prefix flag per key, flipped forever at the first
    predicate failure; the flipping row drops from takewhile and opens
    dropwhile."""
    from eventkit_spark.sources.tables import from_dataframe

    ef = from_dataframe(
        spark.read.parquet(stream_dir),
        value_cols=["value"], seq_col="event_id", ts_col="ts",
        key_cols=["user_id"],
    )
    sf = _stream(spark, stream_dir)
    pred = "value < 150"  # fixture values span ~0-330: the flag flips

    out_t = sf.run_available_now(sink_df=sf.takewhile(pred), name="ek_tw")
    got_t = {(r["user_id"], r["ts"], r["value"]) for r in out_t.collect()}
    exp_t = {(r["user_id"], r["ts"], r["value"])
             for r in ef.takewhile(pred).df.collect()}
    assert got_t == exp_t

    out_d = sf.run_available_now(sink_df=sf.dropwhile(pred), name="ek_dw")
    got_d = {(r["user_id"], r["ts"], r["value"]) for r in out_d.collect()}
    exp_d = {(r["user_id"], r["ts"], r["value"])
             for r in ef.dropwhile(pred).df.collect()}
    assert got_d == exp_d
    # the predicate must actually flip, or this test proves nothing
    assert got_d and len(got_t) < out_t.sparkSession.read.parquet(
        stream_dir).count()
    # the two partition the stream minus nothing: every row is in
    # exactly one of (takewhile-kept, dropwhile-kept)... except the
    # flipping row belongs only to dropwhile — already enforced by the
    # row-for-row equalities above; sanity: no overlap
    assert not (got_t & got_d)


def test_streaming_enumerate_count_parity(spark, stream_dir):
    """Streaming enumerate/count == batch forms row-for-row on an
    ordered replay (per-key counter state; start/step honored)."""
    from eventkit_spark.sources.tables import from_dataframe

    ef = from_dataframe(
        spark.read.parquet(stream_dir),
        value_cols=["value"], seq_col="event_id", ts_col="ts",
        key_cols=["user_id"],
    )
    sf = _stream(spark, stream_dir)

    out_e = sf.run_available_now(sink_df=sf.enumerate(start=3, step=2),
                                 name="ek_enum")
    got_e = {(r["user_id"], r["ts"]): (r["i"], r["value"])
             for r in out_e.collect()}
    exp_e = {(r["user_id"], r["ts"]): (r["i"], r["value"])
             for r in ef.enumerate(start=3, step=2).df.collect()}
    assert got_e == exp_e

    out_c = sf.run_available_now(sink_df=sf.count(start=1), name="ek_cnt")
    got_c = {(r["user_id"], r["ts"]): r["value"] for r in out_c.collect()}
    exp_c = {(r["user_id"], r["ts"]): r["value"]
             for r in ef.count(start=1).df.collect()}
    assert got_c == exp_c


def test_streaming_last_complete_mode(spark, stream_dir):
    """Streaming last (max_by aggregate, update/complete mode): the
    final complete-mode table equals batch last() on the same rows."""
    from eventkit_spark.sources.tables import from_dataframe

    sf = _stream(spark, stream_dir)
    q = (
        sf.last()
        .writeStream.format("memory")
        .queryName("ek_last")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["user_id"]): (r["ts"], r["value"])
           for r in spark.sql("SELECT * FROM ek_last").collect()}

    ef = from_dataframe(
        spark.read.parquet(stream_dir),
        value_cols=["value"], seq_col="event_id", ts_col="ts",
        key_cols=["user_id"],
    )
    # batch last orders by seq; the stream aggregates by ts — the
    # fixture's (event_id, ts) orders agree, so compare by ts directly
    exp = {r["user_id"]: (r["ts"], r["value"])
           for r in ef.last().df.collect()}
    assert got == exp and got


def test_streaming_previous_parity(spark, stream_dir):
    """Streaming previous(count) == batch previous row-for-row on an
    ordered replay (bounded deque state per key)."""
    from eventkit_spark.sources.tables import from_dataframe

    ef = from_dataframe(
        spark.read.parquet(stream_dir),
        value_cols=["value"], seq_col="event_id", ts_col="ts",
        key_cols=["user_id"],
    )
    sf = _stream(spark, stream_dir)
    for n, tag in ((1, "ek_pv1"), (3, "ek_pv3")):
        out = sf.run_available_now(sink_df=sf.previous(n), name=tag)
        got = {(r["user_id"], r["ts"]): r["value"] for r in out.collect()}
        exp = {(r["user_id"], r["ts"]): r["value"]
               for r in ef.previous(n).df.collect()}
        assert got == exp and got, n


def test_streaming_chunk_spanning_group_order(spark, stream_dir, tmp_path):
    """Round-7 ADVICE (medium): a key group whose micro-batch spans
    multiple Arrow chunks must still replay in event-time order — the
    stateful handlers sort ONCE across the drained chunk iterator
    (``_sorted_chunks``), not per chunk. Force the condition: scramble
    the source file order AND shrink ``arrow.maxRecordsPerBatch`` below
    the per-user row count, then pin enumerate (full per-row ordering)
    and take (prefix cut) parity against batch."""
    from eventkit_spark.sources.tables import from_dataframe
    from eventkit_spark.streaming import file_stream

    src = spark.read.parquet(stream_dir)
    scrambled = str(tmp_path / "scrambled")
    # ts-DESCENDING write: per-chunk sorting would emit each chunk's
    # newest-first tail as the "prefix" — maximally wrong ordering
    src.orderBy(F.desc("ts")).coalesce(1).write.parquet(scrambled)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        sf = file_stream(
            spark, scrambled,
            schema=("event_id long, ts timestamp, user_id long, "
                    "event_type string, value double, props string"),
            value_cols=["value"], ts_col="ts", key_cols=["user_id"],
        )
        out_e = sf.run_available_now(sink_df=sf.enumerate(start=0, step=1),
                                     name="ek_chunkspan_e")
        got_e = {(r["user_id"], r["ts"]): (r["i"], r["value"])
                 for r in out_e.collect()}
        out_t = sf.run_available_now(sink_df=sf.take(3),
                                     name="ek_chunkspan_t")
        got_t = {(r["user_id"], r["ts"], r["value"])
                 for r in out_t.collect()}
        out_r = sf.run_available_now(sink_df=sf.running_agg(ema_n=10),
                                     name="ek_chunkspan_r")
        got_r = sorted(tuple(r) for r in out_r.collect())
    finally:
        spark.conf.set(key, old)
    # running_agg joins a group's chunks before its one event-time sort:
    # bit-identical to the ordered single-chunk replay
    plain = _stream(spark, stream_dir)
    out_r0 = plain.run_available_now(sink_df=plain.running_agg(ema_n=10),
                                     name="ek_chunkspan_r0")
    assert got_r == sorted(tuple(r) for r in out_r0.collect()) and got_r

    ef = from_dataframe(
        src, value_cols=["value"], seq_col="event_id", ts_col="ts",
        key_cols=["user_id"],
    )
    exp_e = {(r["user_id"], r["ts"]): (r["i"], r["value"])
             for r in ef.enumerate(start=0, step=1).df.collect()}
    assert got_e == exp_e and got_e
    exp_t = {(r["user_id"], r["ts"], r["value"])
             for r in ef.take(3).df.collect()}
    assert got_t == exp_t and got_t
    # the shrunken batch size must actually have forced multi-chunk
    # groups, or this test is vacuous
    assert src.groupBy("user_id").count().agg(F.max("count")).first()[0] > 5


def test_streaming_timing_twins(spark, stream_dir):
    """Streaming delay / timeout / debounce_first == their batch forms
    row-for-row on an ordered replay (r7 VERDICT item 5: the last
    batch-only timing rows). delay is a stateless event-time shift;
    timeout is the gap-flip prefix cut; debounce_first keeps the first
    row of each burst."""
    from eventkit_spark.sources.tables import from_dataframe

    ef = from_dataframe(
        spark.read.parquet(stream_dir),
        value_cols=["value"], seq_col="event_id", ts_col="ts",
        key_cols=["user_id"],
    )
    sf = _stream(spark, stream_dir)

    out_d = sf.delay(90.0).run_available_now(name="ek_delay")
    got_d = {(r["user_id"], r["ts"], r["value"]) for r in out_d.collect()}
    exp_d = {(r["user_id"], r["ts"], r["value"])
             for r in ef.delay(90.0).df.collect()}
    assert got_d == exp_d and got_d

    out_t = sf.run_available_now(sink_df=sf.timeout(3600.0), name="ek_to")
    got_t = {(r["user_id"], r["ts"], r["value"]) for r in out_t.collect()}
    exp_t = {(r["user_id"], r["ts"], r["value"])
             for r in ef.timeout(3600.0).df.collect()}
    assert got_t == exp_t and got_t
    # the cut must drop something, or the parity is vacuous
    assert len(got_t) < spark.read.parquet(stream_dir).count()

    out_f = sf.run_available_now(sink_df=sf.debounce_first(1800.0),
                                 name="ek_dbf")
    got_f = {(r["user_id"], r["ts"], r["value"]) for r in out_f.collect()}
    exp_f = {(r["user_id"], r["ts"], r["value"])
             for r in ef.debounce(1800.0, on_first=True).df.collect()}
    assert got_f == exp_f and got_f
    assert len(got_f) < spark.read.parquet(stream_dir).count()


def test_streaming_timeout_sentinel(spark, stream_dir):
    """timeout(emit_sentinel=True) streaming twin (r9 — the last
    batch-only timing cell): every batch row — kept prefix AND the
    NULL sentinel at prev + timeout for keys cut by an internal gap —
    must appear in the streaming output (inline channel, exact
    replay parity). If the engine also ran a final event-time-timer
    batch, the only extra rows allowed are end-of-stream sentinels for
    keys the batch form left UNCUT (the live-silence case batch replay
    cannot see), at exactly last_kept_ts + timeout."""
    import datetime

    from eventkit_spark.sources.tables import from_dataframe

    GAP = 3600.0
    ef = from_dataframe(
        spark.read.parquet(stream_dir),
        value_cols=["value"], seq_col="event_id", ts_col="ts",
        key_cols=["user_id"],
    )
    exp = {(r["user_id"], r["ts"], r["value"])
           for r in ef.timeout(GAP, emit_sentinel=True).df.collect()}
    assert any(v is None for _, _, v in exp)  # sentinel branch non-vacuous

    sf = _stream(spark, stream_dir).with_watermark("0 seconds")
    # 5-row Arrow batches: every key group spans several chunks
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        out = sf.run_available_now(
            sink_df=sf.timeout(GAP, emit_sentinel=True), name="ek_tos"
        )
        got = {(r["user_id"], r["ts"], r["value"]) for r in out.collect()}
    finally:
        spark.conf.set(key, old)
    assert exp <= got, f"missing batch rows: {sorted(exp - got)[:5]}"

    extras = got - exp
    cut_keys = {uid for uid, _, v in exp if v is None}
    last_kept = {}
    for uid, ts, v in exp:
        if v is not None and (uid not in last_kept or ts > last_kept[uid]):
            last_kept[uid] = ts
    for uid, ts, v in extras:
        assert v is None and uid not in cut_keys, (uid, ts, v)
        assert ts == last_kept[uid] + datetime.timedelta(seconds=GAP)


def test_streaming_chunk_flush_after(spark, tmp_path):
    """chunk(flush_after=...) flushes a PARTIAL buffer once the key is
    silent past last_row + flush_after in watermark time (r9 — the
    reference flushes the remainder on the done event; an event-time
    timer is the unbounded analog). Driven as three checkpointed
    availableNow drains: A buffers key 1's partial, B advances the
    watermark past key 1's timer, C's first batch fires it."""
    import datetime

    from eventkit_spark.streaming import file_stream

    d = str(tmp_path / "stream")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    base = datetime.datetime(2024, 1, 1, 10, 0, 0)
    seen: set = set()

    def _write(rows):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, value double"
        ).coalesce(1).write.mode("append").parquet(d)

    def _drain(name):
        # file sink (memory sink cannot recover from a checkpoint):
        # returns only the rows NEW in this drain
        sf = file_stream(
            spark, d,
            schema="event_id long, ts timestamp, user_id long, value double",
            value_cols=["value"], ts_col="ts", key_cols=["user_id"],
        ).with_watermark("0 seconds")
        out = sf.chunk(2, flush_after=60.0)
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        allrows = {
            (r["user_id"], r["ts"], tuple(r["value"]))
            for r in spark.read.parquet(sink).collect()
        }
        new = allrows - seen
        seen.update(allrows)
        return [
            {"user_id": u, "ts": t, "value": list(v)} for u, t, v in new
        ]

    # A: key 1, five rows -> two full chunks + one buffered partial
    _write([(i, base + datetime.timedelta(seconds=i), 1, float(i)) for i in range(5)])
    r1 = _drain("ek_cf1")
    assert sorted(tuple(r["value"]) for r in r1) == [(0.0, 1.0), (2.0, 3.0)]

    # B: key 2 an hour later -> the watermark jumps past key 1's timer
    # and availableNow evaluates expired timers within the run: key 2's
    # full chunk emits AND key 1's partial [4.0] flushes, stamped with
    # its last row's event time
    _write([(10 + i, base + datetime.timedelta(hours=1, seconds=i), 2, 100.0 + i)
            for i in range(3)])
    r2 = _drain("ek_cf2")
    assert sorted(tuple(r["value"]) for r in r2) == [(4.0,), (100.0, 101.0)]
    flushed = [r for r in r2 if r["user_id"] == 1]
    assert flushed[0]["ts"] == base + datetime.timedelta(seconds=4)

    # C: key 3 later still -> the only admissible new rows are key 2's
    # flushed partial [102.0] (timer now expired); key 3's single row
    # stays buffered (no end-of-stream, timer not yet past watermark)
    _write([(20, base + datetime.timedelta(hours=2), 3, 777.0)])
    r3 = _drain("ek_cf3")
    assert all(r["user_id"] == 2 and r["value"] == [102.0] for r in r3)
    assert [r for r in r3 if r["user_id"] == 2][0]["ts"] == base + datetime.timedelta(
        hours=1, seconds=2
    )


def test_streaming_iterate_parity(spark, stream_dir):
    """Streaming iterate == batch iterate on an ordered replay: the
    per-key counter indexes the literal values, the stream ends at the
    shorter side (rows past the iterable drop)."""
    from eventkit_spark.sources.tables import from_dataframe

    vals = [round(0.5 * i, 1) for i in range(40)]
    ef = from_dataframe(
        spark.read.parquet(stream_dir),
        value_cols=["value"], seq_col="event_id", ts_col="ts",
        key_cols=["user_id"],
    )
    sf = _stream(spark, stream_dir)
    out = sf.run_available_now(sink_df=sf.iterate(vals), name="ek_iter")
    got = {(r["user_id"], r["ts"]): r["value"] for r in out.collect()}
    exp = {(r["user_id"], r["ts"]): r["value"]
           for r in ef.iterate(vals).df.collect()}
    assert got == exp and got
    # the iterable must actually truncate at least one key's stream
    per_user_max = (
        spark.read.parquet(stream_dir).groupBy("user_id").count()
        .agg(F.max("count")).first()[0]
    )
    assert per_user_max > len(vals)


def test_streaming_chunk_product_parity(spark, stream_dir):
    """Streaming chunk(size) == batch chunk's FULL chunks per key (the
    unbounded form can't flush the final partial — no end-of-stream);
    streaming product == batch running product to float round-off
    (sequential multiply vs the batch exp(sum(log)) decomposition)."""
    from eventkit_spark.sources.tables import from_dataframe

    ef = from_dataframe(
        spark.read.parquet(stream_dir),
        value_cols=["value"], seq_col="event_id", ts_col="ts",
        key_cols=["user_id"],
    )
    sf = _stream(spark, stream_dir)

    out_c = sf.run_available_now(sink_df=sf.chunk(7), name="ek_chunk")
    got_c = {(r["user_id"], tuple(r["value"])) for r in out_c.collect()}
    exp_c = {(r["user_id"], tuple(r["value"]))
             for r in ef.chunk(7).df.collect() if len(r["value"]) == 7}
    assert got_c == exp_c and got_c
    # at least one key must have had a partial chunk withheld, or the
    # full-chunks-only comparison is vacuous
    n_partial = sum(1 for r in ef.chunk(7).df.collect() if len(r["value"]) < 7)
    assert n_partial > 0

    # keep the running product in double range: route through a bounded
    # map first on the batch side and the same map on the stream side
    sf2 = _stream(spark, stream_dir).map(lambda v: 1.0 + v / 1000.0)
    out_p2 = sf2.run_available_now(sink_df=sf2.product(), name="ek_prod2")
    got2 = {(r["user_id"], r["ts"]): r["value"] for r in out_p2.collect()}
    ef2 = ef.map(lambda v: 1.0 + v / 1000.0)
    exp2 = {(r["user_id"], r["ts"]): r["value"]
            for r in ef2.product().df.collect()}
    assert set(got2) == set(exp2) and got2
    for key, v in exp2.items():
        assert abs(got2[key] - v) <= 1e-9 * max(abs(v), 1.0), key


def test_streaming_ngram_lm_scoring(spark, tmp_path_factory):
    """The persisted n-gram-LM store composes with Structured
    Streaming: foreachBatch scores each micro-batch against the frozen
    count tables (nightly quality scoring — no reference re-scan per
    batch), and the scores equal the batch form on the same rows."""
    from eventkit_spark.llm.text import (
        ngram_lm_store_init,
        stupid_backoff_logprob,
        stupid_backoff_with_store,
    )
    from eventkit_spark.streaming import file_stream

    base = tmp_path_factory.mktemp("nglm_stream")
    store = str(base / "store")
    ref = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat on the log")],
        "doc_id long, text string",
    )
    ngram_lm_store_init(ref, store)
    batch = spark.createDataFrame(
        [(10, "the cat sat on the log"), (11, "zebra quantum flux jumps")],
        "doc_id long, text string",
    )
    src = str(base / "in")
    batch.coalesce(1).write.mode("overwrite").parquet(src)

    sf = file_stream(
        spark, src, schema="doc_id long, text string",
        value_cols=["text"], ts_col="doc_id",
    )
    scored = []

    def score(bdf, _bid):
        scored.extend(
            (r["doc_id"], r["n_trigrams"], r["avg_logprob"], r["bo_ppm"])
            for r in stupid_backoff_with_store(bdf, store).collect()
        )

    q = sf.foreach_batch(score, available_now=True)
    q.awaitTermination(120)
    want = sorted(
        (r["doc_id"], r["n_trigrams"], r["avg_logprob"], r["bo_ppm"])
        for r in stupid_backoff_logprob(batch, ref).collect()
    )
    assert sorted(scored) == want and want
    # the novel doc backed off on every trigram
    by_id = {t[0]: t for t in scored}
    assert by_id[11][3] == 1_000_000 and by_id[10][3] < 1_000_000


def test_streaming_chunk_numeric_ts_and_null_budget_cost(spark, tmp_path):
    """r9 review regressions: (a) chunk() without flush_after must keep
    working on a NUMERIC ts_col (the timer clock is only read when the
    timer exists); (b) take_budget treats a NULL cost as 0 like the
    batch window SUM instead of poisoning the spent state with NaN."""
    from eventkit_spark.streaming import file_stream

    d = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, 1, 10.0), (2, 1, 20.0), (3, 1, 30.0), (4, 1, 40.0)],
        "seq long, user_id long, value double",
    ).coalesce(1).write.parquet(d)
    sf = file_stream(
        spark, d, schema="seq long, user_id long, value double",
        value_cols=["value"], ts_col="seq", key_cols=["user_id"],
    )
    # (a) numeric ts chunking
    out = sf.run_available_now(sink_df=sf.chunk(2), name="ek_numchunk")
    got = sorted(tuple(r["value"]) for r in out.collect())
    assert got == [(10.0, 20.0), (30.0, 40.0)]
    # (b) NULL cost accrues 0 and the row still emits; budget 30 then
    # admits the 20 (spent 30) and rejects the 30
    d2 = str(tmp_path / "in2")
    spark.createDataFrame(
        [(1, 1, 10.0), (2, 1, None), (3, 1, 20.0), (4, 1, 30.0)],
        "seq long, user_id long, value double",
    ).coalesce(1).write.parquet(d2)
    sf2 = file_stream(
        spark, d2, schema="seq long, user_id long, value double",
        value_cols=["value"], ts_col="seq", key_cols=["user_id"],
    )
    out2 = sf2.run_available_now(sink_df=sf2.take_budget(30.0), name="ek_nullbud")
    vals = sorted((r["value"] is None, r["value"] or 0.0) for r in out2.collect())
    assert [v for _, v in vals] == [10.0, 20.0, 0.0]


def test_streaming_chunk_null_values(spark, tmp_path):
    """A NULL value stays a NULL element of its chunk, as in batch chunk:
    in one micro-batch, in the carry buffer handed across micro-batches,
    and in the partial chunk that flush_after emits. (Spark failed the
    query decoding a NULL element of a pandas kernel's array<double>.)"""
    import datetime

    from eventkit_spark.sources.tables import from_dataframe
    from eventkit_spark.streaming import file_stream

    schema = "seq long, ts timestamp, user_id long, value double"
    base = datetime.datetime(2024, 1, 1)

    def write(d, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(d)

    def chunks(out):
        return sorted((r["user_id"], r["ts"], tuple(r["value"])) for r in out.collect())

    d = str(tmp_path / "in")
    rows = [(i, base + datetime.timedelta(seconds=i), 1, v)
            for i, v in enumerate([10.0, None, None, 40.0, 50.0, None, 70.0])]
    write(d, rows[:3])  # the first micro-batch ends on a buffered NULL
    write(d, rows[3:])
    ef = from_dataframe(spark.read.parquet(d), value_cols=["value"],
                        seq_col="seq", ts_col="ts", key_cols=["user_id"])
    want = chunks(ef.chunk(2).df)
    assert want[-1][2] == (70.0,)  # the batch remainder: not emitted below
    for multi in (None, 1):
        sf = file_stream(spark, d, schema, value_cols=["value"], ts_col="ts",
                         key_cols=["user_id"], max_files_per_trigger=multi)
        got = chunks(sf.run_available_now(sink_df=sf.chunk(2), name=f"ek_cnull{multi}"))
        assert got == want[:-1] == [
            (1, base + datetime.timedelta(seconds=1), (10.0, None)),
            (1, base + datetime.timedelta(seconds=3), (None, 40.0)),
            (1, base + datetime.timedelta(seconds=5), (50.0, None)),
        ], multi

    # flush_after: key 1 buffers the partial [NULL]; key 2 an hour later
    # moves the watermark past key 1's timer, which flushes it
    d2 = str(tmp_path / "in2")
    write(d2, [(0, base, 1, 1.0), (1, base + datetime.timedelta(seconds=1), 1, None),
               (2, base + datetime.timedelta(seconds=2), 1, None)])
    write(d2, [(3, base + datetime.timedelta(hours=1), 2, 100.0),
               (4, base + datetime.timedelta(hours=1, seconds=1), 2, 101.0)])
    sf = file_stream(spark, d2, schema, value_cols=["value"], ts_col="ts",
                     key_cols=["user_id"], max_files_per_trigger=1
                     ).with_watermark("0 seconds")
    got = chunks(sf.run_available_now(sink_df=sf.chunk(2, flush_after=60.0),
                                      name="ek_cnull_flush"))
    assert got == [
        (1, base + datetime.timedelta(seconds=1), (1.0, None)),
        (1, base + datetime.timedelta(seconds=2), (None,)),
        (2, base + datetime.timedelta(hours=1, seconds=1), (100.0, 101.0)),
    ]


def test_streaming_cross_batch_state_parity(spark, stream_dir, tmp_path):
    """r10: every vectorized stateful kernel must carry its state
    across MICRO-BATCH boundaries exactly (the carries are prepended to
    each batch's scan — this is the code path a single-batch replay
    never exercises). Split the events into four ts-quartile files,
    replay with maxFilesPerTrigger=1 (4 micro-batches, oldest first),
    and pin result-set equality against the single-batch replay of the
    same directory, kernel by kernel."""
    import os
    import shutil
    import time as _time

    from eventkit_spark.streaming.stream import StreamFrame

    from pyspark.sql import Window

    src = spark.read.parquet(stream_dir)
    q = src.withColumn("__q", F.ntile(4).over(Window.orderBy("ts", "event_id")))
    multi_dir = str(tmp_path / "multi")
    os.makedirs(multi_dir)
    t0 = _time.time()
    for i in range(1, 5):
        stage = str(tmp_path / f"stage_{i}")
        q.filter(F.col("__q") == i).drop("__q").coalesce(1).write.parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        dst = os.path.join(multi_dir, f"f{i}.parquet")
        shutil.copyfile(os.path.join(stage, part), dst)
        os.utime(dst, (t0 + i, t0 + i))  # oldest-first pickup order
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")

    def frame(multi, etype=None):
        reader = spark.readStream.format("parquet").schema(schema)
        if multi:
            reader = reader.option("maxFilesPerTrigger", 1)
        sdf = reader.load(multi_dir)
        if etype:
            sdf = sdf.filter(F.col("event_type") == etype)
        return StreamFrame(sdf, value_cols=["value"], ts_col="ts",
                           key_cols=["user_id"])

    # prove the multi replay actually runs >= 4 micro-batches once
    sf_probe = frame(multi=True)
    qy = (
        sf_probe.running_agg(ema_n=10)
        .writeStream.format("memory").queryName("ek_xb_probe")
        .outputMode("append").trigger(availableNow=True).start()
    )
    qy.awaitTermination()
    n_batches = len([p for p in qy.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 4, n_batches

    kernels = {
        "running_agg": lambda sf: sf.running_agg(ema_n=10),
        "changes": lambda sf: sf.changes(),
        "take": lambda sf: sf.take(7),
        "skip": lambda sf: sf.skip(7),
        "enumerate": lambda sf: sf.enumerate(start=3, step=2),
        "count": lambda sf: sf.count(start=1),
        "take_budget": lambda sf: sf.take_budget(1500.0),
        "previous": lambda sf: sf.previous(2),
        "pairwise": lambda sf: sf.pairwise(),
        "product": lambda sf: sf.product(),
        "takewhile": lambda sf: sf.takewhile("value < 100"),
        "dropwhile": lambda sf: sf.dropwhile("value < 100"),
        "debounce_first": lambda sf: sf.debounce_first(3600.0),
        # r11: chunk joined the vectorized set (cumulative index
        # arithmetic over the carry buffer) — the partial-chunk buffer
        # must hand off across batches exactly
        "chunk": lambda sf: sf.chunk(5),
        # the lane's arange/prefix-flip rewrites of the per-row loops:
        # the literal-index, flip and trailing-window carries
        "iterate": lambda sf: sf.iterate(range(0, 120, 3)),
        "timeout": lambda sf: sf.timeout(3600.0),
        "anomaly": lambda sf: sf.anomaly(86400.0, z=2.0),
    }
    # two-input kernels: zip / ziplatest / takeuntil / sample
    two_input = {
        "zip": lambda m: (lambda a, b: a.zip(b))(
            frame(m, "purchase"), frame(m, "click")),
        "ziplatest": lambda m: (lambda a, b: a.ziplatest(b))(
            frame(m, "purchase"), frame(m, "click")),
        "takeuntil": lambda m: (lambda a, b: a.takeuntil(b))(
            frame(m, "purchase"), frame(m, "error")),
        "sample": lambda m: (lambda a, b: a.sample(b))(
            frame(m, "view"), frame(m, "error")),
        # r11: asof_join joined the vectorized set (position cummax
        # over the sorted union) — the carried right-side (ts, value)
        # must hand off across batches exactly
        "asof_join": lambda m: (lambda a, b: a.asof_join(b))(
            frame(m, "purchase"), frame(m, "click")),
    }

    # 38 availableNow queries at ~2 s fixed startup each dominated this
    # test (94 s serial — r12, VERDICT item 2). Streaming queries run
    # concurrently in one session, so fan out over a thread pool. The
    # stream width is pinned via the explicit override for the duration:
    # _sized_start then never derives a width, so its conf set/restore
    # writes the same value from every thread (no cross-thread conf
    # corruption); parity results are width-invariant by construction.
    def run_one(job):
        name, multi = job
        if name in kernels:
            sf = frame(multi)
            out = sf.run_available_now(
                sink_df=kernels[name](sf), name=f"ek_xb_{name}_{multi}"
            )
        else:
            sfr = frame(multi)  # runner handle for run_available_now
            out = sfr.run_available_now(
                sink_df=two_input[name](multi), name=f"ek_xb2_{name}_{multi}"
            )
        # no rounding anywhere: the float carries are prepended to each
        # batch's scan, so multi-batch sums/mins/maxes/emas must equal
        # the single-batch fold exactly
        return (name, multi), sorted(tuple(r) for r in out.collect())

    from concurrent.futures import ThreadPoolExecutor

    width_key = "SPARK_GRAFT_STREAM_PARTITIONS"
    prev_width = os.environ.get(width_key)
    os.environ[width_key] = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        jobs = [(n, m) for n in list(kernels) + list(two_input)
                for m in (True, False)]
        with ThreadPoolExecutor(max_workers=4) as ex:
            res = dict(ex.map(run_one, jobs))
    finally:
        if prev_width is None:
            del os.environ[width_key]
        else:
            os.environ[width_key] = prev_width
    for name in list(kernels) + list(two_input):
        got, exp = res[(name, True)], res[(name, False)]
        assert got == exp and got, f"{name}: multi-batch != single-batch"


def test_running_agg_null_semantics(spark, tmp_path):
    """r11 (r10 VERDICT item 4 + ADVICE): running_agg's missing-value
    behavior is DECIDED and pinned — SQL-window semantics, matching the
    batch twin and the closed-form oracle algebra:

    - every aggregate is NULL until the key's first value (SQL
      aggregates over an all-NULL prefix are NULL);
    - after that, a NULL row keeps rsum/rmin/rmax and DECAYS the ema
      by (1-w) (the NULL term drops out of the closed-form SUM);
    - a NULL literal first row forfeits the full-weight ema seed (the
      first value later weighs w);
    - rcount counts rows.

    Cases per the ADVICE: NULL first value (u=1), NULL mid-stream
    (u=2), an entire all-NULL FIRST micro-batch (u=3, multi-file
    replay — the cross-batch None carry), plus an all-NULL key (u=4).
    Both the single-batch and the maxFilesPerTrigger=1 multi-batch
    replays must equal the batch SQL windows exactly."""
    import shutil
    import time as _time

    from eventkit_spark.streaming.stream import StreamFrame

    rows = []  # (seq, user, value) — ts is a long for simplicity
    rows += [(1, 1, None), (2, 1, 10.0), (3, 1, None), (4, 1, 30.0)]
    rows += [(1, 2, 5.0), (2, 2, None), (3, 2, None), (4, 2, 7.0)]
    rows += [(1, 3, None), (2, 3, None), (3, 3, 4.0), (4, 3, None), (5, 3, 6.0)]
    rows += [(1, 4, None), (2, 4, None)]
    # plus a payload column the kernel never reads
    rows = [(*r, f"tag{r[0]}") for r in rows]
    schema = "ts long, user_id long, value double, tag string"
    src = spark.createDataFrame(rows, schema)

    # two files split at ts<=2 / ts>2: u=3's first micro-batch is
    # all-NULL, u=4 never sees a value at all
    multi_dir = str(tmp_path / "multi")
    os.makedirs(multi_dir)
    t0 = _time.time()
    for i, pred in enumerate(["ts <= 2", "ts > 2"], start=1):
        stage = str(tmp_path / f"stage_{i}")
        src.filter(pred).coalesce(1).write.parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        dst = os.path.join(multi_dir, f"f{i}.parquet")
        shutil.copyfile(os.path.join(stage, part), dst)
        os.utime(dst, (t0 + i, t0 + i))

    expected = _running_agg_rows(_running_agg_sql(spark, src))

    for multi in (False, True):
        reader = spark.readStream.format("parquet").schema(schema)
        if multi:
            reader = reader.option("maxFilesPerTrigger", 1)
        sf = StreamFrame(
            reader.load(multi_dir),
            value_cols=["value"], ts_col="ts", key_cols=["user_id"],
        )
        out = sf.run_available_now(
            sink_df=sf.running_agg(ema_n=10), name=f"ek_nulls_{multi}"
        )
        # a long event time crosses and returns unchanged
        assert out.schema.simpleString() == _RUNNING_AGG_SCHEMA.format(ts="bigint")
        got = _running_agg_rows(out.collect())
        assert got == expected, f"multi={multi}"


def test_running_agg_event_time_types(spark, tmp_path):
    """running_agg keeps the source's event-time type and values for
    every type it accepts: ``timestamp`` crosses the pandas boundary
    as int64 micros and is cast back in the JVM, ``timestamp_ntz``
    crosses as it is (long is pinned in
    test_running_agg_null_semantics). Wall times inside a DST gap and a
    non-UTC session zone must survive the round trip, and an unread
    payload column must not matter."""
    import datetime as _dt

    from eventkit_spark.streaming.stream import StreamFrame

    # 2024-03-10 02:xx does not exist in America/New_York
    t0 = _dt.datetime(2024, 3, 10, 1, 58, 0)
    rows = [
        (t0 + _dt.timedelta(seconds=41 * ((i * 7) % 12) + u), u,
         None if (u + i) % 5 == 0 else float((u * 13 + i * 29) % 50) - 20,
         "x" * i)
        for u in range(6) for i in range(12)
    ]
    src_dir = str(tmp_path / "ntz")
    spark.createDataFrame(
        rows, "ts timestamp_ntz, user_id long, value double, props string"
    ).coalesce(1).write.parquet(src_dir)
    tz_key = "spark.sql.session.timeZone"
    old_tz = spark.conf.get(tz_key)
    try:
        for ts_type, tz in (("timestamp_ntz", "UTC"),
                            ("timestamp_ntz", "America/New_York"),
                            ("timestamp", "America/New_York")):
            spark.conf.set(tz_key, tz)
            schema = f"ts {ts_type}, user_id long, value double, props string"
            sf = StreamFrame(
                spark.readStream.format("parquet").schema(schema).load(src_dir),
                value_cols=["value"], ts_col="ts", key_cols=["user_id"],
            )
            name = f"ek_evt_{ts_type}_{tz.replace('/', '_')}"
            out = sf.run_available_now(sink_df=sf.running_agg(ema_n=10), name=name)
            assert out.schema.simpleString() == _RUNNING_AGG_SCHEMA.format(ts=ts_type)
            exp = _running_agg_sql(spark, spark.read.schema(schema).parquet(src_dir))
            got = _running_agg_rows(out.collect())
            assert got == _running_agg_rows(exp) and len(got) == len(rows), name
    finally:
        spark.conf.set(tz_key, old_tz)


def _publish(src, dst, name, at):
    """Write ``src`` as the one parquet file ``dst/name.parquet``,
    modified at epoch ``at``: a file stream lists files oldest first,
    so ``maxFilesPerTrigger=1`` replays them in ``at`` order."""
    import shutil

    stage = f"{dst}_stage_{name}"
    src.coalesce(1).write.parquet(stage)
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    os.makedirs(dst, exist_ok=True)
    out = os.path.join(dst, f"{name}.parquet")
    shutil.copyfile(os.path.join(stage, part), out)
    os.utime(out, (at, at))


def test_running_agg_bucketed_parity(spark, tmp_path):
    """running_agg keeps its state per hash bucket of the keys, and
    every key's carries must still be its own. With 5-row Arrow chunks
    (a bucket spans many), the single-batch and the
    maxFilesPerTrigger=1 replays equal the batch SQL windows for a
    long + string key pair with NULLs in both columns, and for a
    keyless frame. The long ids sit past 2^53 and differ only in their
    low bits: pandas reads an integer column holding a NULL as
    float64, which would merge them."""
    import time as _time

    from eventkit_spark.streaming.stream import StreamFrame

    rows = []
    for u in range(40):
        uid = None if u < 2 else (1 << 60) + u
        tag = None if u == 0 or u % 7 == 3 else f"t{u % 3}"
        for i in range(6):
            v = None if (u + i) % 5 == 0 else float((u * 13 + i * 29) % 50) - 20
            rows.append((1000 * i + u, uid, tag, v, "x" * i))
    schema = "ts long, user_id long, tag string, value double, props string"
    src = spark.createDataFrame(rows, schema)
    src_dir = str(tmp_path / "src")
    t0 = _time.time()
    for i, pred in enumerate(["ts < 2000", "ts >= 2000 AND ts < 4000", "ts >= 4000"]):
        _publish(src.filter(pred), src_dir, f"f{i}", t0 + i)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        for keys in (("user_id", "tag"), ()):
            expected = _running_agg_rows(_running_agg_sql(spark, src, keys), keys)
            for multi in (False, True):
                reader = spark.readStream.format("parquet").schema(schema)
                if multi:
                    reader = reader.option("maxFilesPerTrigger", 1)
                sf = StreamFrame(reader.load(src_dir), value_cols=["value"],
                                 ts_col="ts", key_cols=list(keys))
                out = sf.run_available_now(sink_df=sf.running_agg(ema_n=10),
                                           name=f"ek_bucket_{len(keys)}_{multi}")
                got = _running_agg_rows(out.collect(), keys)
                assert got == expected and len(got) == len(rows), (keys, multi)
    finally:
        spark.conf.set(key, old)


def test_running_agg_state_rows_at_most_buckets(spark, tmp_path):
    """One micro-batch over 1,200 keys leaves at most B state rows
    (B hash buckets of the keys), where one state row per key would
    leave 1,200."""
    from eventkit_spark.session import session_width
    from eventkit_spark.streaming.stream import _BUCKETS_PER_PARTITION, StreamFrame

    n_keys = 1200
    src_dir = str(tmp_path / "keys")
    spark.range(2 * n_keys).selectExpr(
        "id AS ts", f"id % {n_keys} AS user_id", "CAST(id AS double) AS value"
    ).coalesce(1).write.parquet(src_dir)
    sf = StreamFrame(
        spark.readStream.schema("ts long, user_id long, value double").parquet(src_dir),
        value_cols=["value"], ts_col="ts", key_cols=["user_id"],
    )
    sink = sf.running_agg(ema_n=10)
    writer = (
        sink.writeStream.format("memory").queryName("ek_bucket_rows")
        .outputMode("append").trigger(availableNow=True)
    )
    q = sf._sized_start(writer, sink_df=sink)
    q.awaitTermination()
    ops = q.lastProgress["stateOperators"]
    b = _BUCKETS_PER_PARTITION * session_width(spark)
    assert spark.table("ek_bucket_rows").count() == 2 * n_keys
    assert ops and 0 < ops[0]["numRowsTotal"] <= b < n_keys, ops


def test_running_agg_restart_same_and_other_width(spark, tmp_path):
    """A running_agg checkpoint restarted at the same width continues
    every key's carries exactly. Restarted under another
    spark.sql.shuffle.partitions its keys would hash into other
    buckets, so the handler raises, naming both bucket counts, and
    nothing is emitted."""
    import time as _time

    from pyspark.errors import StreamingQueryException

    from eventkit_spark.streaming.stream import _BUCKETS_PER_PARTITION as b, StreamFrame

    rows = [
        (100 * i + u, None if u % 11 == 0 else u % 37, float((u * 7 + i) % 23))
        for u in range(90) for i in range(3)
    ]
    schema = "ts long, user_id long, value double"
    src = spark.createDataFrame(rows, schema)
    src_dir, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    got = []

    def run(width):
        key = "spark.sql.shuffle.partitions"
        old = spark.conf.get(key)
        spark.conf.set(key, str(width))
        try:
            sf = StreamFrame(
                spark.readStream.format("parquet").schema(schema).load(src_dir),
                value_cols=["value"], ts_col="ts", key_cols=["user_id"],
            )
            q = sf.foreach_batch(
                lambda df, _: got.extend(df.collect()),
                sink_df=sf.running_agg(ema_n=10), checkpoint=ckpt,
                available_now=True,
            )
            q.awaitTermination()
        finally:
            spark.conf.set(key, old)

    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    t0 = _time.time()
    for i in range(2):
        _publish(src.filter(f"ts >= {100 * i} AND ts < {100 * (i + 1)}"),
                 src_dir, f"f{i}", t0 + i)
        run(width)
    first_two = src.filter("ts < 200")
    assert _running_agg_rows(got) == _running_agg_rows(_running_agg_sql(spark, first_two))
    n = len(got)
    assert n == first_two.count()

    _publish(src.filter("ts >= 200"), src_dir, "f2", t0 + 2)
    with pytest.raises(StreamingQueryException,
                       match=rf"{b * width} key buckets and this query uses {b * width // 2}"):
        run(width // 2)
    assert len(got) == n


def _state_node_input(df):
    """(name, type) of each column the pandas state node receives, read
    off the analyzed JVM plan tree by node class and ``output()`` — no
    plan-string parsing."""
    nodes = [
        n for n in plan_nodes(df)
        if node_class(n) == "FlatMapGroupsInPandasWithState"
    ]
    assert len(nodes) == 1, [node_class(n) for n in plan_nodes(df)]
    out = nodes[0].child().output()
    return [
        (out.apply(i).name(), out.apply(i).dataType().typeName())
        for i in range(out.size())
    ]


def test_state_kernels_ship_only_read_columns(spark, stream_dir):
    """Boundary guard: a pandas state kernel receives only the key,
    event-time and value columns — the source's event_id, event_type
    and props payload never crosses to Python — and running_agg's
    timestamp crosses as int64 micros. Keyless kernels group on one
    constant column (a bare groupBy(lit(0)) failed analysis) and run."""
    from eventkit_spark.streaming.stream import StreamFrame

    sf = _stream(spark, stream_dir)
    assert _state_node_input(sf.running_agg(ema_n=10)) == [
        ("__b", "integer"), ("user_id", "long"), ("ts", "long"), ("value", "double"),
    ]
    assert _state_node_input(sf.changes()) == [
        ("user_id", "long"), ("ts", "timestamp"), ("value", "double"),
    ]
    keyless = StreamFrame(sf.df, value_cols=["value"], ts_col="ts", key_cols=[])
    agg = keyless.running_agg(ema_n=10)
    assert _state_node_input(agg) == [
        ("__g", "integer"), ("ts", "long"), ("value", "double"),
    ]
    out = keyless.run_available_now(sink_df=agg, name="ek_keyless_agg")
    src = spark.read.parquet(stream_dir)
    n, total = src.count(), src.agg(F.sum("value")).first()[0]
    last = out.orderBy(F.desc("rcount")).first()
    assert out.count() == n and last["rcount"] == n
    assert abs(last["rsum"] - total) < 1e-6 * max(1.0, abs(total))


def test_multibatch_replay_runs_multiple_batches(spark):
    """r11 (r10 VERDICT item 2 'Done =' clause): the contract replay
    behind running_agg_stream_multibatch must provably execute >= 4
    micro-batches (4 ts-range files, maxFilesPerTrigger=1 — batchId is
    0-based so the last progress reads >= 3), and its drained result
    must equal the single-file replay's row-for-row."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e

    sfd = "/root/testdata/sf0.001"
    sfr = e._replay_stream_multi(spark, sfd)
    q = (
        sfr.running_agg(ema_n=10)
        .writeStream.format("memory")
        .queryName("ek_mb_pin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress["batchId"] >= 3, q.lastProgress["batchId"]
    nonempty = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(nonempty) >= 4, len(nonempty)
    multi = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM ek_mb_pin").collect()
    )
    single = e._replay_stream(spark, sfd)
    out = single.run_available_now(
        sink_df=single.running_agg(ema_n=10), name="ek_mb_single"
    )
    assert multi == sorted(tuple(r) for r in out.collect()) and multi


def test_prefix_flag_null_value_flips(spark, tmp_path):
    """r11 (round self-review finding #2): _prefix_flag tags the
    predicate with when(pred, 1).otherwise(0), so a NULL value fails
    the predicate and FLIPS the key — takewhile stops at (and drops)
    the NULL row, dropwhile starts at (and emits) it. The stream
    oracles' cut conditions include `OR value IS NULL` to match."""
    from eventkit_spark.streaming import file_stream

    d = str(tmp_path / "nullflip")
    spark.createDataFrame(
        [(1, 1, 100.0), (2, 1, None), (3, 1, 200.0),
         (1, 2, 400.0), (2, 2, 50.0)],
        "seq long, user_id long, value double",
    ).coalesce(1).write.parquet(d)

    def frame():
        return file_stream(
            spark, d, schema="seq long, user_id long, value double",
            value_cols=["value"], ts_col="seq", key_cols=["user_id"],
        )

    tw = frame()
    out = tw.run_available_now(
        sink_df=tw.takewhile("value < 300"), name="ek_nf_tw"
    )
    assert sorted((r["user_id"], r["value"]) for r in out.collect()) == [
        (1, 100.0)  # u1 flips at the NULL row; u2 flips at row 1
    ]
    dw = frame()
    out2 = dw.run_available_now(
        sink_df=dw.dropwhile("value < 300"), name="ek_nf_dw"
    )
    assert sorted(
        (r["user_id"], r["value"] if r["value"] is not None else -1.0)
        for r in out2.collect()
    ) == [(1, -1.0), (1, 200.0), (2, 50.0), (2, 400.0)]


def test_passthrough_kernels_preserve_null_values(spark, tmp_path):
    """Ambient assumption pinned (r11): every pass-through kernel
    (take/skip, enumerate, previous, ...) carries the value column
    through pandas as float64, where SQL NULL becomes NaN — and
    pyspark's Arrow serializer converts float NaN back to SQL NULL on
    the way out (pa.Array.from_pandas semantics). The whole streaming
    lane's NULL transparency rests on that round-trip; if a Spark
    upgrade ever changed it, NULLs would silently become NaNs and
    every oracle comparison on a NULL-bearing stream would flip."""
    from eventkit_spark.streaming import file_stream

    d = str(tmp_path / "nullpass")
    spark.createDataFrame(
        [(1, 1, 10.0), (2, 1, None), (3, 1, 30.0)],
        "seq long, user_id long, value double",
    ).coalesce(1).write.parquet(d)

    def frame():
        return file_stream(
            spark, d, schema="seq long, user_id long, value double",
            value_cols=["value"], ts_col="seq", key_cols=["user_id"],
        )

    tk = frame()
    out = tk.run_available_now(sink_df=tk.take(3), name="ek_np_take")
    vals = {r["seq"]: r["value"] for r in out.collect()}
    assert vals[2] is None and vals[1] == 10.0 and vals[3] == 30.0
    # previous(1): row 3 must emit row 2's value as a true NULL
    pv = frame()
    out2 = pv.run_available_now(sink_df=pv.previous(1), name="ek_np_prev")
    prev = {r["seq"]: r["value"] for r in out2.collect()}
    assert prev[3] is None and prev[2] == 10.0


def test_stream_state_width_derivation(spark, stream_dir):
    """r11 optimization (guide §2.2 applied to streaming): the state
    shuffle of a streaming run is width-derived from the SOURCE BYTES
    (AQE cannot coalesce stateful streaming shuffles) — but only for
    JVM-native state. The pandas state kernels keep the session width:
    their cost is per key group in Python, and narrowing them measured
    4-5x slower (running_agg 1.9 s -> 7.8 s at one partition)."""
    from eventkit_spark.session import _size_to_bytes
    from eventkit_spark.streaming.stream import _stream_shuffle_partitions

    assert _size_to_bytes("64m") == 64 << 20
    assert _size_to_bytes("2097152") == 2 << 20
    assert _size_to_bytes("1g") == 1 << 30
    assert _size_to_bytes("100b") == 100
    assert _size_to_bytes("64mb") == 64 << 20
    assert _size_to_bytes("1.5g") == 3 << 29
    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    adv = _size_to_bytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    # ceil(bytes/advisory), clamped to [1, session width]; unknown -> None
    assert _stream_shuffle_partitions(spark, None) is None
    assert _stream_shuffle_partitions(spark, 1) == 1
    assert _stream_shuffle_partitions(spark, adv + 1) == min(2, sess)
    assert _stream_shuffle_partitions(spark, adv * (sess + 5)) == sess

    # native streaming aggregation: the narrowed width is applied and
    # visible in the state operator's progress metrics
    sf = _stream(spark, stream_dir)
    expected = _stream_shuffle_partitions(spark, sf.src_bytes)
    assert sf.src_bytes and expected is not None
    sink = sf.last()
    w = (
        sink
        .writeStream.format("memory")
        .queryName("ek_width_native")
        .outputMode("complete")
        .trigger(availableNow=True)
    )
    q = sf._sized_start(w, sink_df=sink)
    q.awaitTermination()
    ops = q.lastProgress["stateOperators"]
    assert ops and ops[0]["numShufflePartitions"] == expected, ops
    # session conf restored after the start
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == sess

    # pandas state kernel: keeps the session width
    sf2 = _stream(spark, stream_dir)
    sink2 = sf2.running_agg(ema_n=10)
    w2 = (
        sink2
        .writeStream.format("memory")
        .queryName("ek_width_pandas")
        .outputMode("append")
        .trigger(availableNow=True)
    )
    # sink_df is the public route to the plan probe (r12: the private
    # writer._df fallback is gone) — without it the pandas kernel would
    # be invisible and the width wrongly narrowed
    q2 = sf2._sized_start(w2, sink_df=sink2)
    q2.awaitTermination()
    ops2 = q2.lastProgress["stateOperators"]
    assert ops2 and ops2[0]["numShufflePartitions"] == sess, ops2


def test_plan_gates_fail_loudly(spark, stream_dir, monkeypatch):
    """Both plan-reading gates raise when the plan cannot be read,
    instead of degrading silently: the spread gate used to skip the
    spread, and _sized_start used to keep the session width as if the
    query ran a pandas kernel."""
    from eventkit_spark.llm._spread import spread
    from eventkit_spark.plans import audit
    from eventkit_spark.session import session_width
    from eventkit_spark.streaming.stream import _stream_shuffle_partitions

    sf = _stream(spark, stream_dir)
    assert _stream_shuffle_partitions(spark, sf.src_bytes) < session_width(spark)
    sink = sf.last()
    w = sink.writeStream.format("memory").queryName("ek_loud").outputMode("complete")

    def unreadable(df, phase):
        raise RuntimeError("plan unreadable")

    monkeypatch.setattr(audit, "_walk", unreadable)
    with pytest.raises(RuntimeError, match="unreadable"):
        spread(spark.range(10))
    with pytest.raises(RuntimeError, match="unreadable"):
        sf._sized_start(w.trigger(availableNow=True), sink_df=sink)


def _write_batches(root, batches):
    """One parquet file per micro-batch of (event_id, ts seconds, user_id,
    value) rows, mtimes oldest first; returns the schema DDL."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(root)
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    for f, rows in enumerate(batches):
        eid, secs, uid, val = zip(*rows)
        path = os.path.join(root, f"part{f}.parquet")
        pq.write_table(pa.table({
            "event_id": pa.array(eid, pa.int64()),
            "ts": pa.array([base + dt.timedelta(seconds=s) for s in secs],
                           pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(uid, pa.int64()),
            "value": pa.array(val, pa.float64()),
        }), path)
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
    return "event_id long, ts timestamp, user_id long, value double"


def test_recurrence_twins_group_null_keys(spark, tmp_path):
    """NULL keys: each streaming twin (one state-store group for the NULL
    key) equals its batch kernel, which now also treats NULL keys as
    one key, over three micro-batches. Before, batch cusum / holt /
    kalman1d / throttle restarted on every NULL-key row."""
    from eventkit_spark.sources.tables import from_dataframe
    from eventkit_spark.streaming import file_stream

    keys = [1, None, 1, None, 1, None, 2, None, 2, 1, None, 2]
    vals = [5.0, 10.0, 5.0, 30.0, None, 50.0, 7.0, 2.0, 1.0, 4.0, 8.0, 3.0]
    rows = [(i, i, k, v) for i, (k, v) in enumerate(zip(keys, vals))]
    src = str(tmp_path / "src")
    schema = _write_batches(src, [rows[:4], rows[4:8], rows[8:]])
    ef = from_dataframe(
        spark.read.schema(schema).parquet(src),
        value_cols=["value"], seq_col="event_id", ts_col="ts", key_cols=["user_id"],
    )
    for op, args, cols in (
        ("cusum", (0.0, 1000.0), ("cusum_hi", "cusum_lo", "alarm")),
        ("holt", (), ("level", "trend", "forecast")),
        ("kalman1d", (), ("kf_x", "kf_p", "kf_gain")),
        ("throttle", (1, 3600.0), ("ts",)),
    ):
        sf = file_stream(spark, src, schema=schema, value_cols=["value"], ts_col="ts",
                         key_cols=["user_id"], max_files_per_trigger=1)
        out = sf.run_available_now(sink_df=getattr(sf, op)(*args), name=f"ek_nk_{op}")
        if op == "throttle":
            got = {r["ts"]: (r["emit_ts"],) for r in out.collect()}
        else:
            got = {r["ts"]: tuple(r[c] for c in cols) for r in out.collect()}
        batch = getattr(ef, op)(*args).df.collect()
        orig = {r["event_id"]: r["ts"] for r in ef.df.collect()}
        want = {orig[r["event_id"]]: tuple(r[c] for c in cols) for r in batch}
        assert got == want and len(got) == 12, op
        if op == "cusum":  # the NULL key's running sums
            assert [got[orig[i]][0] for i in (1, 3, 5, 7, 10)] == [
                10.0, 40.0, 90.0, 92.0, 100.0
            ]


def test_streaming_cusum_rounds_like_batch(spark, tmp_path):
    """Streaming cusum rounds its accumulators with the batch kernel's
    half-away-from-zero rounder: 12.3456785 lands on a half-way 6th
    decimal, which Python's round() took to 12.345678."""
    from eventkit_spark.sources.tables import from_dataframe
    from eventkit_spark.streaming import file_stream

    src = str(tmp_path / "src")
    schema = _write_batches(src, [[(0, 0, 1, 12.3456785)]])
    sf = file_stream(spark, src, schema=schema, value_cols=["value"], ts_col="ts",
                     key_cols=["user_id"])
    out = sf.run_available_now(sink_df=sf.cusum(0.0, h=100.0), name="ek_cusum_r6")
    ef = from_dataframe(
        spark.read.schema(schema).parquet(src),
        value_cols=["value"], seq_col="event_id", ts_col="ts", key_cols=["user_id"],
    )
    (b,) = ef.cusum(0.0, h=100.0).df.collect()
    (s,) = out.collect()
    assert b["cusum_hi"] == 12.345679
    assert (s["cusum_hi"], s["cusum_lo"]) == (b["cusum_hi"], b["cusum_lo"])


def test_streaming_iterate_one_shot_iterable(spark, stream_dir):
    """A generator of ints gives a long ``value`` column in streaming
    iterate, with the batch twin's values."""
    from eventkit_spark.sources.tables import from_dataframe

    sf = _stream(spark, stream_dir)
    sink = sf.iterate(v * 3 for v in range(5))
    assert sink.schema["value"].dataType.simpleString() == "bigint"
    out = sf.run_available_now(sink_df=sink, name="ek_iter_gen")
    ef = from_dataframe(
        spark.read.parquet(stream_dir),
        value_cols=["value"], seq_col="event_id", ts_col="ts", key_cols=["user_id"],
    )
    got = {(r["user_id"], r["ts"]): r["value"] for r in out.collect()}
    want = {(r["user_id"], r["ts"]): r["value"]
            for r in ef.iterate(v * 3 for v in range(5)).df.collect()}
    assert got == want and set(got.values()) == {0, 3, 6, 9, 12}


def test_state_protocol_only_in_the_lane():
    """Every applyInPandasWithState kernel of the package is a step run
    by ``StreamFrame._scan_state``; ``running_agg`` keeps the one other
    handler. A GroupState call, a ``_sorted_chunks(`` drain or an
    ``_apply_state(`` call anywhere else is a new hand-written handler
    shell, with its own load/sort/store/emit rules to drift; an
    ``iterrows(`` in the streaming module is a per-row output loop."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "eventkit_spark"
    # GroupState's own methods and properties: flagged on any object.
    # The generic names are flagged on a GroupState-annotated parameter
    # or a name ``state``.
    own = {"hasTimedOut", "getCurrentWatermarkMs", "getCurrentProcessingTimeMs",
           "setTimeoutTimestamp", "setTimeoutDuration", "oldTimeoutTimestamp"}
    generic = {"exists", "get", "update", "remove"}
    bad = []

    class Calls(ast.NodeVisitor):
        def __init__(self, rel):
            self.rel, self.defs, self.gs = rel, [], [set()]

        def visit_FunctionDef(self, node):
            self.defs.append(node.name)
            args = node.args.posonlyargs + node.args.args + node.args.kwonlyargs
            self.gs.append({
                a.arg for a in args
                if a.annotation is not None and "GroupState" in ast.unparse(a.annotation)
            } | {"state"})
            self.generic_visit(node)
            self.defs.pop()
            self.gs.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def where(self, node):
            return f"{self.rel}:{node.lineno} in {'.'.join(self.defs) or '<module>'}"

        def in_lane(self, running_agg_method=False):
            if self.rel != "streaming/stream.py":
                return False
            if "_scan_state" in self.defs:
                return True
            ra = "running_agg" in self.defs
            return ra and (running_agg_method or self.defs[-1] == "handler")

        def visit_Attribute(self, node):
            gs_call = node.attr in own or (
                node.attr in generic
                and isinstance(node.value, ast.Name)
                and node.value.id in self.gs[-1]
            )
            if gs_call and not self.in_lane():
                bad.append(f"GroupState.{node.attr} at {self.where(node)}")
            if node.attr == "applyInPandasWithState" and self.defs != ["_apply_state"]:
                bad.append(f"applyInPandasWithState at {self.where(node)}")
            if node.attr == "iterrows" and self.rel == "streaming/stream.py":
                bad.append(f"iterrows at {self.where(node)}")
            self.generic_visit(node)

        def visit_Call(self, node):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name == "_sorted_chunks" and not self.in_lane():
                bad.append(f"_sorted_chunks( at {self.where(node)}")
            if name == "_apply_state" and not self.in_lane(running_agg_method=True):
                bad.append(f"_apply_state( at {self.where(node)}")
            self.generic_visit(node)

    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        Calls(rel).visit(ast.parse(path.read_text()))
    assert not bad, bad
