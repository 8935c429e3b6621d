"""The three workloads. Each takes a prepared ``Run`` and returns its
end-to-end metrics, filling ``run.layers`` with per-layer numbers when
the run is traced.

- ``batch_replay``: keyed registry queries over a seeded event log,
  closed loop (one query at a time), round-robin until the run's seconds
  are spent.
- ``curation``: the LLM-data registry queries over seeded documents and
  embeddings, same loop, each query sampled at least twice.
- ``stream_live``: an open-loop generator thread writes a parquet file
  every ``PERIOD`` seconds at a fixed rate into a watched directory;
  ``file_stream -> running_agg`` keyed by user with a ``foreach_batch``
  sink. After the steady phase one burst of backlog files is dropped in
  and drained.

Every workload reports the same three end-to-end metrics, read per
workload: ``latency_p50_s``/``latency_p90_s`` are over per-query median
wall times in the batch workloads and over events' due-to-emit times in
``stream_live``; ``rows_per_s`` is input rows (events, or documents and
vectors) per second of query wall time, and burst events per second of
drain time in ``stream_live``.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

import check
import gen
from ledger import ProgressLog, StatusLedger, empty_costs, progress_listener
from spans import Tracer, union_length

EVENT_QUERIES = [
    "running_sum", "ema", "previous", "changes", "sessionize",
    "rolling_time", "debounce_last", "asof_join", "ziplatest", "throttle",
]
# costliest oracle first: the correctness pass diffs while Spark runs on
# kmeans is left out: cold, it alone set the correctness pass's length
# (25 s of it), and its 4 s per sample left no room for a second sample
# of each query in a run
CURATION_QUERIES = [
    "bpe_encode", "dedup_minhash", "dedup_simhash", "c4_filters",
    "embed_topk", "dedup_exact",
]
EMBEDDING_QUERIES = {"embed_topk"}
ALL_QUERIES = EVENT_QUERIES + CURATION_QUERIES + ["running_agg_stream"]

# batch_replay
EVENTS = 200_000
KEYS = 10_000
ZIPF_S = 0.8
CHECK_THREADS = 4  # check queries Spark runs at once
# batch_replay oracles run on every key with user_id % 8 == 0 plus the
# hottest key; throttle's oracle recurses once per event of the longest
# key, so it gets those keys with at most 300 events
CHECK_KEY_MOD = 8
THROTTLE_MAX_KEY_EVENTS = 300
# curation: the oracles are global and partly quadratic (simhash compares
# all pairs; bpe's takes 7 s over 1000 documents), so the check runs on a
# smaller corpus from the same seed
DOCS = 3_000
VECTORS = 3_000
CHECK_DOCS = 500
CHECK_VECTORS = 500
CURATION_ROUNDS = 2  # samples of each query, however short --seconds is
DUP_SHARE = 0.10
# stream_live
RATE = 250  # events per second in the steady phase
STREAM_KEYS = 10_000
PERIOD = 0.25  # seconds between generator files
PRIMER = 500  # events of a first file, drained before the steady phase
WARM_S = 1.0  # leading part of the steady phase left out of latency
BURST = 10_000  # backlog events dropped in after the steady phase
BURST_FILES = 8
DRAIN_TIMEOUT_S = 60.0
STREAM_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


@dataclass
class Run:
    seed: int
    seconds: float
    work: str
    tracer: Tracer
    spark: object = None
    data_dir: str = ""
    check_dir: str = ""
    inputs: dict = field(default_factory=dict)
    facts: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    walls: dict = field(default_factory=dict)  # root span id -> wall s
    attempted: int = 0
    failed: int = 0

    @property
    def traced(self) -> bool:
        return self.tracer.enabled


# ---------------------------------------------------------------- inputs

def gen_events(run: Run, out_dir: str) -> None:
    rng = np.random.default_rng(run.seed)
    table, facts = gen.events_table(rng, EVENTS, KEYS, ZIPF_S)
    gen.write(table, f"{out_dir}/events.parquet")
    run.inputs["events"] = table
    run.facts.update(facts)


def gen_curation(run: Run, out_dir: str) -> None:
    rng = np.random.default_rng(run.seed)
    docs, facts = gen.documents_table(rng, DOCS, DUP_SHARE)
    emb, efacts = gen.embeddings_table(rng, VECTORS)
    gen.write(docs, f"{out_dir}/documents.parquet")
    gen.write(emb, f"{out_dir}/embeddings.parquet")
    run.facts.update(facts, **efacts)


@dataclass
class StreamPlan:
    """Pre-generated stream input: steady files in due order (offsets in
    microseconds from the phase start) and key-partitioned burst files."""

    primer: tuple  # (table without ts, ts offsets us)
    files: list  # (due offset s, table without ts, ts offsets us)
    burst: list  # (table without ts, ts offsets us)
    steady_events: int
    burst_events: int

    @property
    def events(self) -> int:
        return PRIMER + self.steady_events + self.burst_events


def gen_stream(run: Run, out_dir: str) -> None:
    rng = np.random.default_rng(run.seed)
    per_file = int(RATE * PERIOD)
    n_files = int(round((WARM_S + run.seconds) / PERIOD))
    n = per_file * n_files
    total = PRIMER + n + BURST
    step_us = int(PERIOD * 1e6) // per_file
    offsets = np.arange(1, n + 1, dtype=np.int64) * step_us
    keys = gen.zipf_keys(rng, total, STREAM_KEYS, ZIPF_S)
    values = np.round(rng.exponential(50.0, total), 2)
    types = gen.EVENT_TYPES[rng.integers(0, len(gen.EVENT_TYPES), total)]
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, total)]

    def table(lo, hi, idx=None):
        sel = np.arange(lo, hi) if idx is None else idx
        return pa.table(
            {
                "event_id": pa.array(sel.astype(np.int64)),
                "user_id": pa.array(keys[sel]),
                "event_type": pa.array(types[sel]),
                "value": pa.array(values[sel]),
                "props": pa.array([props[i] for i in sel]),
            }
        )

    primer = (table(0, PRIMER), np.arange(PRIMER, dtype=np.int64))
    files = []
    for i in range(n_files):
        lo, hi = PRIMER + i * per_file, PRIMER + (i + 1) * per_file
        files.append(((i + 1) * PERIOD, table(lo, hi), offsets[lo - PRIMER:hi - PRIMER]))
    burst = []
    idx = np.arange(PRIMER + n, total)
    for b in range(BURST_FILES):
        part = idx[keys[idx] % BURST_FILES == b]
        burst.append((table(0, 0, part), part - idx[0]))
    run.inputs["stream"] = StreamPlan(primer, files, burst, n, BURST)
    run.facts.update(
        rate_per_s=RATE, period_s=PERIOD, keys=STREAM_KEYS, zipf_s=ZIPF_S,
        steady_events=n, burst_events=BURST,
    )


GENERATORS = {"batch_replay": gen_events, "curation": gen_curation, "stream_live": gen_stream}


def build_check_inputs(run: Run, workload: str) -> None:
    """Write the inputs of the correctness pass under ``run.check_dir``.

    batch_replay: the events of every key with ``user_id % 8 == 0`` and of
    the hottest key, kept whole, so every keyed query sees each of those
    keys exactly as in the full log; ``short/`` holds the keys of at most
    300 events for throttle. curation: a smaller corpus of documents and
    embeddings from the same seed and generator."""
    if workload == "curation":
        rng = np.random.default_rng([run.seed, 1])
        docs, _ = gen.documents_table(rng, CHECK_DOCS, DUP_SHARE)
        emb, _ = gen.embeddings_table(rng, CHECK_VECTORS)
        gen.write(docs, f"{run.check_dir}/documents.parquet")
        gen.write(emb, f"{run.check_dir}/embeddings.parquet")
        return
    if workload != "batch_replay":
        return
    ev = run.inputs["events"]
    keys = ev["user_id"].to_numpy()
    counts = np.bincount(keys)
    keep = (keys % CHECK_KEY_MOD == 0) | (keys == counts.argmax())
    short = keep & (counts[keys] <= THROTTLE_MAX_KEY_EVENTS)
    os.makedirs(f"{run.check_dir}/short")
    gen.write(ev.filter(pa.array(keep)), f"{run.check_dir}/events.parquet")
    gen.write(ev.filter(pa.array(short)), f"{run.check_dir}/short/events.parquet")
    run.facts.update(
        check_event_share=round(float(keep.mean()), 4),
        check_hot_key_events=int(counts.max()),
        throttle_check_event_share=round(float(short.mean()), 4),
    )


# ---------------------------------------------------------------- batch

def _entry():
    import __spark_entry__

    return __spark_entry__


def check_queries(run: Run, dirs: dict) -> None:
    """Correctness pass, which is also the warm-up: each query ``name``
    once over ``dirs[name]``, its result written by Spark and diffed
    against its oracle over the same files. Outside timing, so Spark runs
    ``CHECK_THREADS`` queries at once and one DuckDB thread diffs each
    result as it lands."""
    E = _entry()
    qs, oracles = E.queries(), E.oracle_sql()
    t0 = time.perf_counter()
    cons = {d: check.connect(d) for d in set(dirs.values())}

    def spark_then_diff(name):
        out = f"{run.work}/check_out/{name}"
        qs[name](run.spark, dirs[name]).write.mode("overwrite").parquet(out)
        got = f"(SELECT * FROM {check.parquet(out)})"
        return duck.submit(check.row_diff, cons[dirs[name]], got, oracles[name])

    try:
        with ThreadPoolExecutor(max_workers=1) as duck:
            with ThreadPoolExecutor(max_workers=CHECK_THREADS) as pool:
                written = {name: pool.submit(spark_then_diff, name) for name in dirs}
            diffs = {name: fut.result().result() for name, fut in written.items()}
    finally:
        for con in cons.values():
            con.close()
    for name, (n, diff) in diffs.items():
        run.attempted += 1
        if diff or n == 0:
            run.failed += 1
            print(f"perfbench: {name} differs from its oracle in {diff} of {n} rows")
    run.facts["check_rows"] = {name: n for name, (n, _) in diffs.items()}
    run.facts["check_s"] = round(time.perf_counter() - t0, 3)


def percentile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def timed_queries(run: Run, names, rows_in: dict, rounds: int = 1) -> dict:
    """``names`` round-robin, each query forced through the noop sink,
    until ``run.seconds`` have passed and every query ran ``rounds`` times.
    A query's time is the median of its samples; the end-to-end metrics
    are taken over those medians. Per-layer numbers go into
    ``run.layers`` when traced."""
    E = _entry()
    qs = E.queries()
    spark = run.spark
    tracer = run.tracer
    ledger = StatusLedger(spark) if run.traced else None
    costs = empty_costs()
    samples: list[tuple[str, float]] = []
    plan_s = overhead_s = 0.0
    probe_jobs = 0
    # every run starts timing from a collected driver heap, not from
    # whatever garbage its correctness pass left behind
    spark._jvm.System.gc()
    start = time.perf_counter()
    while len(samples) < rounds * len(names) or time.perf_counter() - start < run.seconds:
        name = names[len(samples) % len(names)]
        group = ledger.new_group(name) if ledger else None
        with tracer.span(f"query.{name}") as qid:
            t0 = time.perf_counter()
            with tracer.span("plan") as pid:
                df = qs[name](spark, run.data_dir)
            with tracer.span("execute") as xid:
                df.write.mode("overwrite").format("noop").save()
            wall = time.perf_counter() - t0
        run.attempted += 1
        samples.append((name, wall))
        if ledger:
            run.walls[qid] = wall
            ledger.clear_group()
            ledger.drain()
            jobs = ledger.group_jobs(group)
            iv = ledger.job_intervals(jobs)
            for sid in (pid, xid):
                tracer.add_jobs(sid, iv)
            q = tracer.spans[qid]
            p = tracer.spans[pid]
            plan_s += p.dur
            probe_jobs += sum(1 for s, _ in iv if p.start <= s <= p.end)
            overhead_s += q.dur - union_length(iv, q.start, q.end)
            ledger.stage_costs(jobs, costs)
            ledger.python_costs(q.start, q.end, costs)
    n = len(samples)
    run.facts["timed_s"] = round(time.perf_counter() - start, 3)
    run.facts["samples"] = n
    per_query = {q: statistics.median(w for p, w in samples if p == q) for q in names}
    run.facts["query_s"] = {q: round(w, 3) for q, w in per_query.items()}
    if ledger:
        layers = {k: v / n for k, v in costs.items() if not k.startswith("executor.task_")}
        layers["executor.straggler_ratio"] = (
            costs["executor.task_max_s"] / costs["executor.task_mean_s"]
            if costs["executor.task_mean_s"] else 1.0
        )
        layers["operators.plan_build_s"] = plan_s / n
        layers["operators.probe_jobs"] = probe_jobs / n
        layers["driver.overhead_s"] = overhead_s / n
        layers.update({f"query.{q}_s": w for q, w in per_query.items()})
        run.layers.update(layers)
    walls = list(per_query.values())
    return {
        "latency_p50_s": percentile(walls, 50),
        "latency_p90_s": percentile(walls, 90),
        "rows_per_s": sum(rows_in[q] for q in names) / sum(walls),
    }


def batch_replay(run: Run) -> dict:
    dirs = {q: run.check_dir for q in EVENT_QUERIES}
    dirs["throttle"] = f"{run.check_dir}/short"
    check_queries(run, dirs)
    rows = {q: EVENTS for q in EVENT_QUERIES}
    return timed_queries(run, EVENT_QUERIES, rows)


def curation(run: Run) -> dict:
    check_queries(run, {q: run.check_dir for q in CURATION_QUERIES})
    rows = {q: VECTORS if q in EMBEDDING_QUERIES else DOCS for q in CURATION_QUERIES}
    return timed_queries(run, CURATION_QUERIES, rows, CURATION_ROUNDS)


# ---------------------------------------------------------------- stream

class Generator(threading.Thread):
    """Open-loop file writer: file ``i`` is due ``PERIOD * (i + 1)``
    seconds after ``t0`` whatever the stream is doing; its events carry
    their own due times as ``ts``. Records when each file landed."""

    def __init__(self, plan: StreamPlan, in_dir: str, t0: float):
        super().__init__(name="perfbench-generator", daemon=True)
        self.plan, self.in_dir, self.t0 = plan, in_dir, t0
        self.landed: list[tuple[float, float]] = []  # (due, landed) epoch s
        self.error: BaseException | None = None
        self.stop_event = threading.Event()

    def run(self):
        try:
            base_us = int(self.t0 * 1e6)
            for i, (due_off, tbl, offs) in enumerate(self.plan.files):
                due = self.t0 + due_off
                if self.stop_event.wait(max(0.0, due - time.time())):
                    return
                _drop(_stamped(tbl, base_us, offs), self.in_dir, f"steady-{i:05d}")
                self.landed.append((due, time.time()))
        except BaseException as exc:  # noqa: BLE001 — re-raised by the caller
            self.error = exc


def _stamped(table: pa.Table, base_us: int, offsets_us) -> pa.Table:
    ts = pa.array(base_us + offsets_us, type=pa.timestamp("us"))
    return table.add_column(1, "ts", ts)


def _stage(table: pa.Table, in_dir: str, name: str) -> tuple[str, str]:
    """Write a file under a hidden name the stream does not list;
    ``os.rename(*staged)`` publishes it."""
    tmp = os.path.join(in_dir, f".{name}.tmp")
    gen.write(table, tmp)
    return tmp, os.path.join(in_dir, f"{name}.parquet")


def _drop(table: pa.Table, in_dir: str, name: str) -> None:
    os.rename(*_stage(table, in_dir, name))


def _wait_rows(log: ProgressLog, target: int, timeout: float) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        if log.rows_committed() >= target:
            return True
        time.sleep(0.02)
    return False


def stream_live(run: Run) -> dict:
    from eventkit_spark.streaming import file_stream
    from pyspark.sql import functions as F

    spark = run.spark
    tracer = run.tracer
    plan: StreamPlan = run.inputs["stream"]

    in_dir = f"{run.work}/stream_in"
    out_dir = f"{run.work}/stream_out"
    os.makedirs(in_dir)
    emitted: dict[int, float] = {}

    def sink(batch_df, batch_id):
        batch_df.select(
            "user_id", F.unix_micros("ts").alias("ts_us"), "rcount",
            "rsum", "rmin", "rmax", "ema",
        ).write.mode("overwrite").parquet(f"{out_dir}/b={batch_id}")
        emitted[batch_id] = time.time()

    log = ProgressLog()
    listener = progress_listener(log)
    spark.streams.addListener(listener)
    ledger = StatusLedger(spark) if run.traced else None
    t_stream = time.perf_counter()
    with tracer.span("stream") as stream_sid:
        with tracer.span("sources") as src_sid:
            sfr = file_stream(
                spark, in_dir, schema=STREAM_SCHEMA, value_cols=["value"],
                ts_col="ts", key_cols=["user_id"],
            )
        with tracer.span("plan") as plan_sid:
            agg = sfr.running_agg(ema_n=10)
        query = sfr.foreach_batch(sink, sink_df=agg, checkpoint=f"{run.work}/ckpt")
        t_live = time.time()
        gen_thread = None
        try:
            # the first micro-batch of a new query pays its cold start:
            # drain a primer file (stamped before every steady event)
            # before the open loop begins
            _drop(_stamped(*plan.primer, int((t_live - 60) * 1e6)), in_dir, "primer")
            primer_ok = _wait_rows(log, PRIMER, DRAIN_TIMEOUT_S)
            t0 = time.time() + 0.1
            run.facts["primer_s"] = round(t0 - t_live, 3)
            steady_end = t0 + len(plan.files) * PERIOD
            # burst events follow every steady one in event time; staged
            # now and published with back-to-back renames, so one
            # listing sees the whole backlog
            burst_us = int((steady_end + 1.0) * 1e6)
            staged = [
                _stage(_stamped(tbl, burst_us, offs), in_dir, f"burst-{b:02d}")
                for b, (tbl, offs) in enumerate(plan.burst)
            ]
            gen_thread = Generator(plan, in_dir, t0)
            gen_thread.start()
            gen_thread.join(WARM_S + run.seconds + DRAIN_TIMEOUT_S)
            steady_ok = _wait_rows(log, PRIMER + plan.steady_events, DRAIN_TIMEOUT_S)
            t_drop = time.time()
            run.facts["steady_tail_s"] = round(t_drop - steady_end, 3)
            for tmp, final in staged:
                os.rename(tmp, final)
            burst_ok = _wait_rows(log, plan.events, DRAIN_TIMEOUT_S)
        finally:
            if gen_thread is not None:
                gen_thread.stop_event.set()
                gen_thread.join(10)
            query.stop()
            spark.streams.removeListener(listener)
        t_end = time.time()
    if run.traced:
        run.walls[stream_sid] = time.perf_counter() - t_stream
    if gen_thread.error is not None:
        raise gen_thread.error

    # latency and correctness over the sink output, outside timing
    expected = plan.events
    run.attempted += expected
    con = check.connect(in_dir, tables=())
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{in_dir}/*.parquet')")
        con.execute(
            f"CREATE TABLE sink AS SELECT * FROM read_parquet('{out_dir}/*/*.parquet', "
            "hive_partitioning = true)"
        )
        con.execute("CREATE TABLE emit (b BIGINT, at DOUBLE)")
        con.executemany("INSERT INTO emit VALUES (?, ?)", list(emitted.items()))
        lo_us = int((t0 + WARM_S) * 1e6)
        p50, p90, n_lat, n_b = con.execute(
            f"""
            SELECT quantile_cont(lat, 0.5), quantile_cont(lat, 0.9), count(*),
                   count(DISTINCT b)
            FROM (SELECT emit.at - sink.ts_us / 1e6 AS lat, sink.b
                  FROM sink JOIN emit ON sink.b = emit.b
                  WHERE sink.ts_us >= {lo_us} AND sink.ts_us < {burst_us})
            """
        ).fetchone()
        drain_end = con.execute(
            f"SELECT max(emit.at) FROM sink JOIN emit ON sink.b = emit.b "
            f"WHERE sink.ts_us >= {burst_us}"
        ).fetchone()[0]
        got = (
            "(SELECT user_id, ts_us, rcount, round(rsum, 6) AS rsum, "
            "round(rmin, 6) AS rmin, round(rmax, 6) AS rmax, round(ema, 6) AS ema FROM sink)"
        )
        n_got, diff = check.row_diff(con, got, _entry().oracle_sql()["running_agg_stream"])
    finally:
        con.close()
    missing = max(0, expected - n_got)
    run.failed += min(expected, max(diff, missing))
    if diff or not (primer_ok and steady_ok and burst_ok):
        print(f"perfbench: stream output differs from its oracle in {diff} rows, "
              f"{missing} of {expected} events never emitted")
    late = [landed - due for due, landed in gen_thread.landed]
    run.facts.update(latency_events=int(n_lat), latency_batches=int(n_b),
                     batches=len(emitted), late_max_s=round(max(late), 4),
                     drain_s=round(drain_end - t_drop, 3))

    if ledger:
        run.layers["sources.load_s"] = tracer.spans[src_sid].dur
        run.layers["operators.plan_build_s"] = tracer.spans[plan_sid].dur
        _stream_layers(run, ledger, log, gen_thread, stream_sid, t_live, t_end, t_drop, plan)
    if not (p50 and drain_end):
        raise RuntimeError("stream_live produced no latency samples")
    return {
        "latency_p50_s": float(p50),
        "latency_p90_s": float(p90),
        "rows_per_s": plan.burst_events / (drain_end - t_drop),
    }


def _stream_layers(run, ledger, log, gen_thread, stream_sid, t_live, t_end, t_drop, plan):
    tracer = run.tracer
    ledger.drain()
    jobs = ledger.jobs_between(t_live, t_end)
    iv = ledger.job_intervals(jobs)
    costs = ledger.python_costs(t_live, t_end, ledger.stage_costs(jobs))
    batches = sorted(log.batches, key=lambda b: b.batch_id)
    busy = []
    for b in batches:
        sid = tracer.add(f"batch.{b.batch_id}", b.start, b.end, stream_sid)
        tracer.add_jobs(sid, iv)
        busy.append((b.start, b.end))
    for i, (due, landed) in enumerate(gen_thread.landed):
        tracer.add(f"generator.file.{i}", due, landed, None)
    nb = max(1, len(batches))
    layers = {k: v for k, v in costs.items() if not k.startswith("executor.task_")}
    layers["executor.straggler_ratio"] = (
        costs["executor.task_max_s"] / costs["executor.task_mean_s"]
        if costs["executor.task_mean_s"] else 1.0
    )
    for key, name in (
        ("queryPlanning", "streaming.query_planning_ms"),
        ("walCommit", "streaming.wal_commit_ms"),
        ("commitOffsets", "streaming.commit_offsets_ms"),
        ("latestOffset", "streaming.latest_offset_ms"),
        ("addBatch", "streaming.add_batch_ms"),
    ):
        layers[name] = sum(b.durations_ms.get(key, 0) for b in batches) / nb
    layers["streaming.batches"] = len(batches)
    layers["streaming.rows_per_batch"] = sum(b.rows for b in batches) / nb
    layers["state.rows_total"] = max((b.state_rows for b in batches), default=0)
    layers["state.memory_bytes"] = max((b.state_bytes for b in batches), default=0)
    layers["state.commit_ms"] = sum(b.state_commit_ms for b in batches) / nb
    layers["driver.overhead_s"] = union_length(busy) - union_length(iv)
    # backlog: files landed but not yet fully read, sampled at each batch
    # end during the steady phase
    per_file = int(RATE * PERIOD)
    backlog, rows = 0, 0
    for b in batches:
        rows += b.rows
        if b.end >= t_drop:
            break
        landed = sum(1 for _, t in gen_thread.landed if t <= b.end)
        backlog = max(backlog, landed - max(0, rows - PRIMER) // per_file)
    layers["streaming.backlog_files"] = backlog
    layers["generator.late_max_s"] = max(t - d for d, t in gen_thread.landed)
    layers["query.running_agg_stream_s"] = union_length(busy)
    run.layers.update(layers)


WORKLOADS = {"batch_replay": batch_replay, "curation": curation, "stream_live": stream_live}
