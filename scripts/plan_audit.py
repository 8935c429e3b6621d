"""Audit the physical plan of EVERY declared query (guide §7.2).

For each name in ``queries()``: build the frame and print one TSV row of
its ``plans/audit.plan_report`` counts, read from plan node classes —
file scans, shuffle exchanges, broadcast exchanges, sorts, Python
boundaries and nested-loop/cartesian joins. ``--save`` also writes the
printed physical plan per query under ``plans/<round>/audit/``
(PLAN_ROUND env, default r13).

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

import os
import re
import sys

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

# the plan_report keys, in TSV column order
_COLUMNS = ("scans", "exchanges", "broadcasts", "sorts", "python_evals",
            "nested_loop_joins")


def mask(plan: str) -> str:
    """``plan`` with its run-dependent parts replaced by placeholders."""
    for pat, rep in _MASKS:
        plan = pat.sub(rep, plan)
    return plan


def main():
    import __spark_entry__ as entrymod
    from eventkit_spark.plans.audit import physical_plan, plan_report
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
        os.environ.get("PLAN_ROUND", "r13"), "audit")
    if save:
        os.makedirs(outdir, exist_ok=True)
    print("\t".join(["name", *_COLUMNS, "err"]))
    for name in names:
        try:
            df = qs[name](spark, sf)
            rep = plan_report(df)
        except Exception as ex:  # noqa: BLE001
            print("\t".join([name, *"-" * len(_COLUMNS), f"{type(ex).__name__}: {ex}"[:300]]))
            continue
        if save:
            with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
                f.write(mask(physical_plan(df)))
        print("\t".join([name, *(str(rep[k]) for k in _COLUMNS), ""]))
        sys.stdout.flush()


if __name__ == "__main__":
    main()
