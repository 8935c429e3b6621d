"""Seeded benchmark of eventkit_spark: one workload per run.

    python3 perfbench/run.py --workload batch_replay --seed 1 --seconds 12 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` under ``perfbench/.work/``, builds a Spark session through
``eventkit_spark.get_spark``, checks each query against the registry's
DuckDB oracle, measures for ``--seconds`` and prints, as its last line,
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json; with ``--trace 1``
the per-layer ones, read from Spark's status store and a streaming
listener, and the spans go to ``perfbench/.work/trace-<workload>-<seed>.json``.
Two compact lines of at most 2 KB precede the result: ``perfbench-facts``
(input sizes, skew, sample counts, phase times, the JVM's peak RSS and
``error_rate`` = failed / attempted) and ``perfbench-ledger`` (every
printed metric by name).

Set-up (input generation, session start, check-input and stream-input
builds) runs ``SETUP_REPS`` times and ``setup_s`` is the median; the
first start also launches the JVM, reported alone as ``session.start_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
LEDGER_MAX = 2048
SELF_TIME_TOLERANCE_S = 0.005


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def compact_line(tag: str, payload: dict) -> str:
    """``<tag> {json}`` trimmed to ``LEDGER_MAX`` bytes by dropping the
    longest entries first."""
    payload = dict(payload)
    while True:
        line = f"{tag} {json.dumps(payload, separators=(',', ':'))}"
        if len(line.encode()) <= LEDGER_MAX or not payload:
            return line
        longest = max(payload, key=lambda k: len(json.dumps(payload[k])))
        payload.pop(longest)


def rounded(v):
    """Six significant digits: the ledger line is for reading, the
    result line keeps every digit."""
    return float(f"{v:.6g}") if isinstance(v, float) else v


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        ap.error(f"unknown workload {args.workload!r}; choose from {names}")

    # everything the run writes stays under perfbench/.work
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # a fixed 2 GiB driver heap: peak RSS then tracks the process's own
    # footprint, not when G1 chose to grow an 8 GiB heap
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(
        [
            f"spark.local.dir={tmp}",
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g",
            f"spark.sql.warehouse.dir={work}/warehouse",
            "spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS",
            "spark.ui.showConsoleProgress=false",
        ]
    )
    sys.path[:0] = [ROOT, HERE]
    try:
        return _run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec, work: str) -> int:
    from eventkit_spark.session import get_spark

    import workloads as W
    from spans import Tracer

    run = W.Run(
        seed=args.seed,
        seconds=args.seconds,
        work=work,
        tracer=Tracer(f"{args.workload}-{args.seed}", bool(args.trace)),
    )
    setup_times, session_start = [], 0.0
    spark = None
    try:
        for rep in range(SETUP_REPS):
            data = os.path.join(work, f"data{rep}")
            checks = os.path.join(work, f"check{rep}")
            os.makedirs(data)
            os.makedirs(checks)
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            W.GENERATORS[args.workload](run, data)
            os.environ["SPARK_GRAFT_SF_DIR"] = data
            t1 = time.perf_counter()
            spark = get_spark(f"perfbench-{args.workload}")
            if rep == 0:
                session_start = time.perf_counter() - t1
            prev = (run.data_dir, run.check_dir)
            run.data_dir, run.check_dir = data, checks
            W.build_check_inputs(run, args.workload)
            setup_times.append(time.perf_counter() - t0)
            for d in filter(None, prev):
                shutil.rmtree(d)
        run.spark = spark
        if run.traced and args.workload != "stream_live":
            from eventkit_spark.sources import load_events, load_table

            t = time.perf_counter()
            if args.workload == "curation":
                load_table(spark, run.data_dir, "documents")
            else:
                load_events(spark, run.data_dir)
            run.layers["sources.load_s"] = time.perf_counter() - t
        metrics = W.WORKLOADS[args.workload](run)
        metrics["setup_s"] = statistics.median(setup_times)
        run.facts["setup_reps_s"] = [round(t, 3) for t in setup_times]
        run.facts["peak_rss_mb"] = round(_peak_rss(spark), 1)
    finally:
        if spark is not None:
            _stop_jvm(spark)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if run.traced:
        run.layers["session.start_s"] = session_start
        run.layers["jvm.peak_rss_mb"] = run.facts["peak_rss_mb"]
        run.layers["trace.spans"] = len(run.tracer.spans)
        run.layers["trace.latency_p50_s"] = metrics["latency_p50_s"]
        _check_self_times(run)
        run.tracer.write(os.path.join(HERE, ".work", f"trace-{args.workload}-{args.seed}.json"))
        wanted = [m["name"] for m in spec["per_layer"]]
        values = {n: run.layers.get(n, 0.0) for n in wanted}
    else:
        values = {m["name"]: metrics[m["name"]] for m in spec["end_to_end"]}
    head = {"workload": args.workload, "seed": args.seed}
    run.facts["error_rate"] = run.failed / max(1, run.attempted)
    print(compact_line("perfbench-facts", {**head, **run.facts}))
    print(compact_line("perfbench-ledger", {**head, **{k: rounded(v) for k, v in values.items()}}))
    sys.stdout.flush()
    print(result_line(values, run.attempted, run.failed, units))
    return 0


def result_line(values: dict, attempted: int, failed: int, units: dict) -> str:
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(v), "unit": units[n]} for n, v in values.items()},
    })


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM PySpark launched (it exits when its
    stdin closes, taking its Python workers with it), and wait for it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def _peak_rss(spark) -> float:
    from ledger import StatusLedger

    return StatusLedger(spark).jvm_peak_rss_mb()


def _check_self_times(run) -> None:
    """The self times under each root span (a query, or the stream) must
    sum to the wall time measured around it with the monotonic clock; a
    mismatch beyond clock skew is a tracing bug and fails the run."""
    tr = run.tracer
    for sid, wall in run.walls.items():
        total = sum(tr.self_time_by_name(sid).values())
        if abs(total - wall) > SELF_TIME_TOLERANCE_S:
            run.failed += 1
            print(f"perfbench: self times of {tr.spans[sid].name} sum to {total}, wall {wall}")


if __name__ == "__main__":
    sys.exit(main())
