"""Skew/scale utility tests: salted aggregation must equal the plain
aggregation; colocate must remove the downstream shuffle."""

from pyspark.sql import functions as F

from eventkit_spark.operators.scale import colocate, explain_skew, salted_agg
from eventkit_spark.plans.audit import count_shuffles, windows
from eventkit_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_salted_agg_equals_plain(spark):
    ev = load_table(spark, SF, "events")
    salted = salted_agg(
        ev, ["user_id"],
        {"total": ("value", "sum"), "n": ("event_id", "count"),
         "vmin": ("value", "min"), "vmax": ("value", "max")},
        salt_buckets=8,
    )
    plain = ev.groupBy("user_id").agg(
        F.sum("value").alias("total"), F.count("event_id").alias("n"),
        F.min("value").alias("vmin"), F.max("value").alias("vmax"),
    )
    a = {r["user_id"]: (round(r["total"], 6), r["n"], r["vmin"], r["vmax"]) for r in salted.collect()}
    b = {r["user_id"]: (round(r["total"], 6), r["n"], r["vmin"], r["vmax"]) for r in plain.collect()}
    assert a == b


def test_colocate_reuses_exchange(spark):
    ev = load_table(spark, SF, "events")
    co = colocate(ev, ["user_id"], partitions=8)
    agg = co.groupBy("user_id").agg(F.sum("value").alias("s"))
    # repartition provides the exchange; the aggregate must not add one
    assert count_shuffles(agg) == 1


def test_explain_skew(spark):
    ev = load_table(spark, SF, "events")
    rows = explain_skew(ev, ["user_id"], top=3).collect()
    assert len(rows) == 3
    assert rows[0]["rows"] >= rows[1]["rows"] >= rows[2]["rows"]


def test_line_dedup_hot_line(spark):
    """A pathologically hot line (one boilerplate line in 20k docs) must
    dedup correctly — and the plan must contain no Window over the line
    hash (the hot-key trap the agg+join form exists to avoid)."""
    from eventkit_spark.llm.text import line_dedup

    docs = spark.range(20000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("COMMON BOILERPLATE\nunique-"), F.col("id").cast("string")).alias("text"),
    )
    out = line_dedup(docs)
    assert not windows(out), "line_dedup must not window over the line hash"
    agg = out.agg(
        F.sum("n_kept").alias("kept"), F.sum("n_lines").alias("total")
    ).collect()[0]
    # 20k unique lines survive + exactly ONE copy of the boilerplate
    assert (agg["kept"], agg["total"]) == (20001, 40000)
    assert out.filter(F.col("text").contains("COMMON")).count() == 1


def test_jaccard_hot_shingle_guard(spark):
    """max_df drops a shingle shared by every doc BEFORE pair expansion:
    with the hot shingle as the only overlap, no pairs survive, and the
    guard is an anti-join (no Window over the shingle)."""
    from eventkit_spark.llm.dedup import ngram_jaccard_pairs

    docs = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the same header every doc has "),
            F.col("id").cast("string"), F.lit("-a "),
            F.col("id").cast("string"), F.lit("-b "),
            F.col("id").cast("string"), F.lit("-c"),
        ).alias("text"),
    )
    out = ngram_jaccard_pairs(docs, k=3, threshold=0.1, max_df=64)
    assert not [w for w in windows(out) if "shingle" in w.columns], (
        "df guard must not window over the shingle"
    )
    assert out.count() == 0  # only the pruned boilerplate overlapped


def test_asof_unkeyed_deterministic_across_runs(spark):
    """The r3 unkeyed as-of bug class: nondeterministic bucket
    assignment made repeated executions of the SAME plan disagree (the
    carry table described partitions the windows didn't run in). The r4
    quantile-boundary path must produce byte-identical results across
    independent executions at a size that spans many buckets."""
    from eventkit_spark.operators.relational import asof_join

    n = 200_000
    left = spark.range(n).select(
        F.col("id"), (F.col("id") * 7 % 1_000_003).alias("ts")
    )
    right = spark.range(n // 100).select(
        (F.col("id") * 997 + 3).alias("ts"), (F.col("id") * 1.0).alias("q")
    )
    out = asof_join(left, right, "ts", right_cols=["q"], partitions=32)
    h1 = out.selectExpr("sum(hash(id, ts, q, ts_r)) as h", "count(*) as n").first()
    h2 = out.selectExpr("sum(hash(id, ts, q, ts_r)) as h", "count(*) as n").first()
    assert h1 == h2
    assert h1["n"] == n


def test_skew_report_mean_first_arithmetic(spark):
    """vs_mean_pct divides by the floored mean group size instead of
    forming cnt*nkeys*100 (int64 overflow at corpus scale under ANSI).
    Pin the mean-first contract values on a known distribution."""
    from eventkit_spark.plans.audit import skew_report

    rows = [("hot",)] * 6 + [("warm",)] * 3 + [("cold",)] * 3
    df = spark.createDataFrame(rows, ["k"])
    got = {r["k"]: r for r in skew_report(df, ["k"], top=3).collect()}
    # tot=12, nkeys=3, mean=4 -> hot: 6*100 div 4 = 150
    assert got["hot"]["vs_mean_pct"] == 150
    assert got["hot"]["share_ppm"] == 500000
    assert got["warm"]["vs_mean_pct"] == 75


def test_token_quota_salted_equals_plain_and_bounds_windows(spark):
    """The salted token_quota (range-partitioned two-pass with broadcast
    carries) must equal the plain per-source window cut on a mega-source
    shape — ONE source carrying every row (the partition a single window
    could not hold at corpus scale) — and the salted plan's windows must
    partition by (source, bucket), never by source alone."""
    from eventkit_spark.llm.sampling import token_quota

    docs = load_table(spark, SF, "documents").withColumn(
        "source", F.lit("mega")
    )
    plain = {r["doc_id"] for r in token_quota(docs, 5000, "doc_id").collect()}
    out = token_quota(docs, 5000, "doc_id", salt=16)
    salted = {r["doc_id"] for r in out.collect()}
    assert salted == plain and plain
    # some docs kept, some dropped: the cut is real
    assert len(plain) < docs.count()
    # the heavy window runs per (source, bucket): no single-partition
    # window over the mega-source in the salted plan
    heavy = [w for w in windows(out) if "__ntok" in w.columns]
    assert heavy and all("__b" in w.keys for w in heavy), heavy
