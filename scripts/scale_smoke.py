"""Scale-smoke: run flagship operators on a corpus N x larger than the
largest driver testdata (sf0.1) to back the 100 TB design claims with a
MEASURED super-SF run, not just plan pins (r8 VERDICT "What's missing"
item 4 — sf>0.1 data doesn't exist, so we derive it).

The scaled corpus is built from sf0.1 by cross-joining each table with
a replica index: ids are re-keyed per replica (id * N + r) so keys stay
unique, and document text gets a per-replica salt token appended so the
scaled corpus is not one giant exact-duplicate class (dedup keeps real
work). Written once to /tmp and reused.

Run:  python scripts/scale_smoke.py [N] [sf_dir]
Prints ONE JSON line: {"scale": N, "rows": {...}, "queries": {name: sec}}.
Recorded runs live in SCALE.md ("Measured super-SF smoke").
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def build_scaled(spark, sf_dir: str, n: int, out_dir: str) -> None:
    from eventkit_spark.sources.tables import load_table

    rep = spark.range(n).select(F.col("id").alias("__r"))
    docs = load_table(spark, sf_dir, "documents")
    (
        docs.crossJoin(rep)
        .select(
            (F.col("doc_id") * n + F.col("__r")).alias("doc_id"),
            "lang",
            "source",
            F.concat(
                F.col("text"), F.lit(" rep"), F.col("__r").cast("string")
            ).alias("text"),
            "n_chars",
        )
        .write.mode("overwrite")
        .parquet(f"{out_dir}/documents.parquet")
    )
    ev = load_table(spark, sf_dir, "events")
    (
        ev.crossJoin(rep)
        .select(
            (F.col("event_id") * n + F.col("__r")).alias("event_id"),
            "ts",
            (F.col("user_id") * n + F.col("__r")).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        .write.mode("overwrite")
        .parquet(f"{out_dir}/events.parquet")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    (
        emb.crossJoin(rep)
        .select(
            (F.col("vec_id") * n + F.col("__r")).alias("vec_id"),
            "embedding",
        )
        .write.mode("overwrite")
        .parquet(f"{out_dir}/embeddings.parquet")
    )


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out_dir = f"/tmp/eventkit_scale_x{n}"
    from eventkit_spark.session import get_spark

    spark = get_spark("scale-smoke")
    # reuse only a COMPLETE prior build: Spark writes _SUCCESS last, so
    # a run killed mid-write leaves the dir without it and we rebuild
    # instead of silently timing against a partial corpus
    markers = [
        f"{out_dir}/{t}.parquet/_SUCCESS"
        for t in ("documents", "events", "embeddings")
    ]
    if not all(os.path.exists(m) for m in markers):
        build_scaled(spark, sf_dir, n, out_dir)

    # the derived tables were WRITTEN by Spark from already-normalized
    # frames, so read them bare (load_table's timestamp-flavor shim is
    # for the driver-generated parquet only)
    docs = spark.read.parquet(f"{out_dir}/documents.parquet")
    ev = spark.read.parquet(f"{out_dir}/events.parquet")
    emb = spark.read.parquet(f"{out_dir}/embeddings.parquet")
    rows = {
        "documents": docs.count(),
        "events": ev.count(),
        "embeddings": emb.count(),
    }

    from pyspark.sql import Window as W

    from eventkit_spark.llm.dedup import (
        exact_dedup,
        minhash_lsh_candidates,
        simhash64,
    )
    from eventkit_spark.llm.sampling import token_quota, train_order
    from eventkit_spark.llm.text import c4_filters, stupid_backoff_logprob
    from eventkit_spark.llm.unigram import unigram_encode, unigram_vocab

    def _flag(name, df):
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        times[name] = round(time.perf_counter() - t0, 2)

    times: dict[str, float] = {}
    # keyed window stream op at scale: running sum over every user
    w = W.partitionBy("user_id").orderBy("event_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    _flag(
        "running_sum",
        ev.select("user_id", "event_id", F.sum("value").over(w).alias("s")),
    )
    _flag("exact_dedup", exact_dedup(docs))
    _flag(
        "minhash_candidates",
        minhash_lsh_candidates(docs, num_hashes=16, bands=4),
    )
    _flag("simhash", simhash64(docs))
    _flag("c4_filters", c4_filters(docs))
    _flag("token_quota", token_quota(docs, 5000, "doc_id"))
    _flag(
        "stupid_backoff",
        stupid_backoff_logprob(
            docs.filter(F.col("doc_id") % 3 == 0),
            ref=docs.filter(F.col("doc_id") % 3 != 0),
        ),
    )
    _flag("train_order", train_order(docs, key_col="doc_id", seed=7))
    _flag(
        "unigram_encode",
        unigram_encode(docs, vocab=None, vocab_size=60),
    )
    # BPE's driver merge loop against its distributed twin (the
    # driver_types_max gate): the fit runs while the frame is BUILT, so
    # the call is timed together with the write
    from eventkit_spark.llm.tokenize import bpe_encode

    for name, dtm in (("bpe_encode", 200_000), ("bpe_encode_distributed", 0)):
        t0 = time.perf_counter()
        bpe_encode(docs, n_merges=6, driver_types_max=dtm).write.mode(
            "overwrite"
        ).format("noop").save()
        times[name] = round(time.perf_counter() - t0, 2)
    # brute-force ANN stays bounded by the query side
    from eventkit_spark.llm.similarity import brute_force_topk

    _flag(
        "embed_topk",
        brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5),
    )

    # ---- r10 additions (r9 VERDICT item 6): the families whose
    # windows/joins are most shape-sensitive to scale ----
    # multi-stream combinators: per-source rank machinery (zip) and
    # union+as-of carry (ziplatest) are the stressed shapes
    from eventkit_spark.sources.tables import from_dataframe

    def _typed_scaled(etype):
        return from_dataframe(
            ev.filter(F.col("event_type") == etype),
            value_cols=["value"],
            seq_col="event_id",
            ts_col="ts",
            key_cols=["user_id"],
        )

    a, b = _typed_scaled("purchase"), _typed_scaled("click")
    _flag("merge", a.merge(b).df)
    _flag("zip", a.zip(b).df)
    _flag("ziplatest", a.ziplatest(b).df)

    # temporal joins: keyed as-of (union + running-last carry) and the
    # binned point-in-interval join (both replace an inequality-only
    # BroadcastNestedLoop plan)
    from eventkit_spark.operators.relational import asof_join, interval_join

    trades = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "ts", "value"
    )
    quotes = (
        ev.filter(F.col("event_id") % 2 == 0)
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("qvalue"))
    )
    _flag(
        "asof_join",
        asof_join(trades, quotes, "ts", by="user_id", right_cols=["qvalue"]),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 300 SECONDS")).alias("start"),
        (F.col("ts") + F.expr("INTERVAL 300 SECONDS")).alias("end"),
    )
    _flag(
        "interval_join",
        interval_join(clicks, purchases, by="user_id", right_cols=["pid"]),
    )

    # store-lifecycle probe: seed store built once per scale (untimed,
    # like bench.py's session-store prebuild), then the commit=False
    # dry-run probe — the production nightly-dedup shape
    from eventkit_spark.llm.dedup import (
        simhash_dedup_incremental,
        simhash_store_init,
    )

    store = f"{out_dir}/simhash_store"
    if not os.path.exists(f"{store}/meta"):
        simhash_store_init(
            docs.filter(F.col("doc_id") % 3 != 0), store, max_hamming=3
        )
    _flag(
        "simhash_probe",
        simhash_dedup_incremental(
            docs.filter(F.col("doc_id") % 3 == 0), store, commit=False
        ),
    )

    # ---- r11 additions (r10 VERDICT item 8): the streaming lane at
    # super-SF — the vectorized stateful kernels' throughput claims
    # measured through REAL availableNow queries over the scaled
    # events directory (noop sink; the r10 vectorization moved the
    # ceiling from the per-row Python loop to Arrow + state-store I/O,
    # so rows/s is the honest metric alongside wall time)
    from eventkit_spark.streaming import file_stream

    ev_schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    stream_rate: dict[str, int] = {}

    def _sf_events(etype=None):
        sfr = file_stream(
            spark, f"{out_dir}/events.parquet", schema=ev_schema,
            value_cols=["value"], ts_col="ts", key_cols=["user_id"],
        )
        if etype is not None:
            sfr.df = sfr.df.filter(F.col("event_type") == etype)
        return sfr

    def _stream_flag(name, sink_df, n_rows, output_mode="append"):
        t0 = time.perf_counter()
        q = (
            sink_df.writeStream.format("noop")
            .option(
                "checkpointLocation",
                f"{out_dir}/ckpt_{name}_{time.time_ns()}",
            )
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dt = time.perf_counter() - t0
        times[name] = round(dt, 2)
        stream_rate[name] = int(n_rows / dt)

    n_ev = rows["events"]
    n_pc = ev.filter(F.col("event_type").isin("purchase", "click")).count()
    s1 = _sf_events()
    _stream_flag("stream_running_agg", s1.running_agg(ema_n=10), n_ev)
    s2 = _sf_events()
    _stream_flag("stream_take_budget", s2.take_budget(1500.0), n_ev)
    za, zb = _sf_events("purchase"), _sf_events("click")
    _stream_flag("stream_zip", za.zip(zb), n_pc)
    # r11 late: the native complete-mode sketch aggregations at
    # production-ish sizes (d*w = 4k cells, 2^12 registers) — the
    # partial aggregate collapses each partition to sketch size
    # before the one exchange, so wall time should track the SCAN,
    # not the state store
    s3 = _sf_events()
    _stream_flag(
        "stream_cms", s3.count_min("event_type", d=4, w=1024), n_ev,
        output_mode="complete",
    )
    s4 = _sf_events()
    _stream_flag(
        "stream_hll", s4.hll("event_id", p=12), n_ev,
        output_mode="complete",
    )
    print(
        json.dumps(
            {
                "scale": n,
                "vs": sf_dir,
                "rows": rows,
                "total_sec": round(sum(times.values()), 2),
                "queries": times,
                "stream_rows_per_sec": stream_rate,
            }
        )
    )


if __name__ == "__main__":
    main()
