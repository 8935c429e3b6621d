"""Isolate and time individual declared queries with the noop sink.

Usage:
    python scripts/qtime.py [--iters N] [--explain DIR_SUFFIX] name [name...]

Times each query per guide §1.4 (noop sink — full computation, no
driver materialization), labels jobs (§1.5), and optionally writes
``plans/<round>/<name>_<DIR_SUFFIX>.txt`` (``--round``, default r12)
with the ``explain("formatted")`` output so plan claims are auditable
without running Spark.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--explain", default=None,
                    help="write plans/<round>/<name>_<suffix>.txt explains")
    ap.add_argument("--round", default="r12",
                    help="plans subdirectory for --explain output")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from eventkit_spark.session import get_spark

    spark = get_spark("qtime")
    qs = entrymod.queries()
    spark.range(1000).selectExpr("sum(id)").collect()  # warmup

    # session stores / replay dirs outside timing, like bench.py
    for name in ("unigram_store", "ngram_lm_store", "dedup_simhash_incremental",
                 "dedup_minhash_incremental", "ivf_index"):
        if name in args.names and name in qs:
            qs[name](spark, args.sf)
    if any(n.endswith("_stream") or "stream" in n for n in args.names):
        if hasattr(entrymod, "_replay_stream"):
            entrymod._replay_stream(spark, args.sf)
        if hasattr(entrymod, "_replay_stream_multi"):
            entrymod._replay_stream_multi(spark, args.sf)

    plansdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", args.round)
    results = {}
    for name in args.names:
        fn = qs[name]
        times = []
        for i in range(args.iters):
            spark.sparkContext.setJobDescription(f"qtime:{name}#{i}")
            t0 = time.perf_counter()
            fn(spark, args.sf).write.mode("overwrite").format("noop").save()
            times.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        results[name] = times
        if args.explain:
            os.makedirs(plansdir, exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                fn(spark, args.sf).explain("formatted")
            with open(os.path.join(
                    plansdir, f"{name}_{args.explain}.txt"), "w") as f:
                f.write(buf.getvalue())
        print(f"{name}: min={min(times)} all={times}", flush=True)
    print({n: min(t) for n, t in results.items()})


if __name__ == "__main__":
    main()
