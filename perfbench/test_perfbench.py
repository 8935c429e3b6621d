"""Tests for the benchmark itself (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import ledger  # noqa: E402
import run as runner  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer, union_length  # noqa: E402

SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
PER_LAYER = {m["name"] for m in SPEC["per_layer"]}
END_TO_END = {m["name"] for m in SPEC["end_to_end"]}


# ------------------------------------------------------------ generator

def _tables(seed):
    rng = np.random.default_rng(seed)
    ev, ef = gen.events_table(rng, 5000, 300, 0.8)
    docs, df = gen.documents_table(rng, 400, 0.2)
    emb, mf = gen.embeddings_table(rng, 200)
    return ev, docs, emb, (ef, df, mf)


def test_generator_is_deterministic_per_seed():
    a, b, c = _tables(7), _tables(7), _tables(8)
    for x, y in zip(a[:3], b[:3]):
        assert x.equals(y)
    assert a[3] == b[3]
    assert not a[0].equals(c[0])
    assert not a[1].equals(c[1])


def test_events_keep_f8_invariants():
    ev, _, _, (facts, _, _) = _tables(3)
    assert ev.schema.names == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    pdf = ev.to_pandas()
    assert not pdf.duplicated(["user_id", "ts"]).any()
    assert (pdf["event_id"].diff().dropna() == 1).all()
    assert pdf["ts"].is_monotonic_increasing
    assert set(pdf["event_type"]) <= set(gen.EVENT_TYPES)
    assert 0 < facts["top_key_share"] < 1


def test_documents_plant_the_stated_duplicate_share():
    _, docs, _, (_, facts, _) = _tables(5)
    pdf = docs.to_pandas()
    assert facts["exact_dups"] + facts["near_dups"] == round(400 * 0.2)
    # every exact duplicate repeats an earlier text; near duplicates end in "dup"
    assert pdf["text"].duplicated().sum() >= facts["exact_dups"]
    assert pdf["text"].str.endswith(" dup").sum() >= facts["near_dups"]
    assert (pdf["n_chars"] == pdf["text"].str.len()).all()


def test_check_inputs_keep_whole_keys_and_the_hottest(tmp_path):
    ev, _ = gen.events_table(np.random.default_rng(4), 5000, 300, 0.8)
    run = workloads.Run(seed=4, seconds=1, work=str(tmp_path), tracer=Tracer("t", False),
                        check_dir=str(tmp_path))
    run.inputs["events"] = ev
    workloads.build_check_inputs(run, "batch_replay")
    counts = np.bincount(ev["user_id"].to_numpy())
    got = pq.read_table(tmp_path / "events.parquet").to_pandas()
    assert counts.argmax() in set(got["user_id"])
    assert all(n == counts[k] for k, n in got["user_id"].value_counts().items())
    short = pq.read_table(tmp_path / "short" / "events.parquet").to_pandas()
    assert counts[short["user_id"]].max() <= workloads.THROTTLE_MAX_KEY_EVENTS
    assert set(short["user_id"]) < set(got["user_id"])


# ------------------------------------------------------------ spans

def test_union_length_merges_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], lo=1.5, hi=5.5) == 2.0
    assert union_length([]) == 0


def test_self_times_sum_to_wall():
    tr = Tracer("t", True)
    root = tr.add("query.x", 0.0, 10.0)
    plan = tr.add("plan", 0.0, 3.0, root)
    execute = tr.add("execute", 3.5, 10.0, root)
    tr.add_jobs(plan, [(1.0, 2.0), (1.5, 2.5)])  # overlapping: one span
    tr.add_jobs(execute, [(4.0, 6.0), (7.0, 12.0)])  # clipped at 10
    assert tr.self_time(root) == pytest.approx(0.5)
    assert tr.self_time(plan) == pytest.approx(1.5)
    assert tr.self_time(execute) == pytest.approx(6.5 - 5.0)
    by_name = tr.self_time_by_name(root)
    assert by_name["jobs"] == pytest.approx(1.5 + 5.0)
    assert sum(by_name.values()) == pytest.approx(10.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer("t", False)
    with tr.span("x") as sid:
        assert sid == -1
    tr.add_jobs(sid, [(0, 1)])
    assert tr.spans == []


# ------------------------------------------------------------ metric names

def _layer_names_in_source():
    names = set()
    for f in ("workloads.py", "run.py"):
        src = open(os.path.join(HERE, f)).read()
        names |= set(re.findall(r'layers\["([^"]+)"\]', src))
        names |= set(re.findall(r'"([a-z]+\.[a-z_]+(?:_ms|_s))"\),', src))
    names |= {k for k in ledger.empty_costs() if not k.startswith("executor.task_")}
    names |= {f"query.{q}_s" for q in workloads.ALL_QUERIES}
    return names


def test_every_layer_metric_is_declared_and_produced():
    produced = _layer_names_in_source()
    assert produced - PER_LAYER == set()
    assert PER_LAYER - produced == set()


def test_end_to_end_metrics_are_declared():
    src = open(os.path.join(HERE, "workloads.py")).read()
    returned = set(re.findall(r'"(\w+)": ', src[src.index("def timed_queries"):]))
    produced = {"setup_s"} | (returned & END_TO_END)
    assert produced == END_TO_END


def test_ledger_line_stays_under_two_kilobytes():
    facts = {"workload": "w", **{f"k{i}": "x" * 50 for i in range(100)}}
    line = runner.compact_line("perfbench-facts", facts)
    assert len(line.encode()) <= runner.LEDGER_MAX
    assert json.loads(line.split(" ", 1)[1])["workload"] == "w"
    # every per-layer metric fits at full printed precision
    metrics = {"workload": "stream_live", "seed": 123456}
    metrics.update({n: runner.rounded(123456789.123456789) for n in PER_LAYER})
    line = runner.compact_line("perfbench-ledger", metrics)
    assert set(json.loads(line.split(" ", 1)[1])) == set(metrics)


def test_printed_metrics_match_the_spec():
    out = runner.result_line({n: 1.0 for n in END_TO_END}, 3, 0, {n: "s" for n in END_TO_END})
    assert set(json.loads(out)["metrics"]) == END_TO_END


def test_sql_metric_parsing():
    assert ledger.parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n807.9 KiB (202.0 KiB, 202.0 KiB)"
    ) == pytest.approx(807.9 * 1024)
    assert ledger.parse_sql_metric("8.3 s (2.0 s, 2.1 s)") == pytest.approx(8.3)
    assert ledger.parse_sql_metric("539 ms") == pytest.approx(0.539)
