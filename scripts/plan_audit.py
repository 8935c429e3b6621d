"""Audit the physical plan of EVERY declared query (guide §7.2).

For each name in ``queries()``: build the frame, capture
``explain("formatted")``, and tally the red-flag indicators the
optimization guide lists — Exchange count, parquet scan count,
Python-boundary nodes (BatchEvalPython / ArrowEvalPython / MapInPandas /
FlatMapGroupsInPandas), SortMergeJoin, cartesian/nested-loop joins,
Window nodes, and whether every scan carries PushedFilters when the
query filters at all. Writes one TSV summary (stdout) and optionally the
full explain text per query under ``plans/<round>/audit/`` (PLAN_ROUND env, default r12).

``--save`` writes each plan MASKED (``mask``): expression ids, lambda
variable suffixes, plan and AQE stage ids, RDD ids, object addresses and
temp paths — everything that changes between two runs of the same code —
are replaced by placeholders, so the saved plans of two checkouts compare
with ``diff -r``:

    PLAN_ROUND=cmp python scripts/plan_audit.py --save embed_topk pq_topk
    diff -r <checkout-a>/plans/cmp/audit <checkout-b>/plans/cmp/audit

NOTE: building some frames is eager by design (kmeans runs its Lloyd
loop, dedup_clusters runs connected components, streaming contracts run
their availableNow query) — the audit therefore takes bench-like time.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (pattern, placeholder), applied in order: the lambda-variable suffix
# (x_12#345 — a fresh counter per lambda built in the session) before
# the bare expression id it carries
_MASKS = [
    (re.compile(r"\b([xyz])_\d+#"), r"\1_N#"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\bplan_id=\d+"), "plan_id=N"),
    (re.compile(r"\b(\w*QueryStage) \d+"), r"\1 N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\b0x[0-9a-f]+\b"), "0xN"),
    (re.compile(r"/tmp/[^\s,\]\)]*"), "/tmp/<tmp>"),
]


def mask(plan: str) -> str:
    """``plan`` with its run-dependent parts replaced by placeholders."""
    for pat, rep in _MASKS:
        plan = pat.sub(rep, plan)
    return plan


def main():
    import __spark_entry__ as entrymod
    from eventkit_spark.session import get_spark

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    save = "--save" in sys.argv
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    spark = get_spark("plan_audit")
    qs = entrymod.queries()
    if not names:
        names = list(qs)
    # session stores / replay dirs outside the audit, like bench.py
    for name in ("unigram_store", "ngram_lm_store", "dedup_simhash_incremental",
                 "dedup_minhash_incremental", "ivf_index", "decontaminate_store"):
        if name in qs:
            qs[name](spark, sf)
    if hasattr(entrymod, "_replay_stream"):
        entrymod._replay_stream(spark, sf)
    if hasattr(entrymod, "_replay_stream_multi"):
        entrymod._replay_stream_multi(spark, sf)

    outdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans",
        os.environ.get("PLAN_ROUND", "r12"), "audit")
    if save:
        os.makedirs(outdir, exist_ok=True)
    print("name\texchanges\tscans\tpy_nodes\tsmj\tcartesian\twindows\tpushed\tplan_lines\terr")
    for name in names:
        try:
            df = qs[name](spark, sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as ex:  # noqa: BLE001
            print(f"{name}\t-\t-\t-\t-\t-\t-\t-\t-\t{type(ex).__name__}: {ex}"[:300])
            continue
        ex_n = len(re.findall(r"\bExchange\b|\bBroadcastExchange\b", plan))
        scans = plan.count("Scan parquet")
        py = len(re.findall(
            r"BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|MapInArrow",
            plan))
        smj = plan.count("SortMergeJoin")
        cart = len(re.findall(r"CartesianProduct|BroadcastNestedLoopJoin", plan))
        win = len(re.findall(r"\bWindow\b|RunningWindowFunction", plan))
        pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
        if save:
            with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
                f.write(mask(plan))
        print(f"{name}\t{ex_n}\t{scans}\t{py}\t{smj}\t{cart}\t{win}\t{pushed}\t{len(plan.splitlines())}\t")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
