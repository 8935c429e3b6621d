"""The CPU-spread remedy for expensive Arrow kernels on under-split
scans, shared by the llm operators (ONE copy — the r11 winnow change
duplicated multimodal's `_spread` inline and the two guards had already
started to drift; r11 ADVICE items 2-4 are folded in here)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..plans.audit import node_class, plan_nodes
from ..session import session_width

# Optimized-plan node classes under which converting to an RDD is
# plan-only work: narrow ops (a generator such as explode included)
# over a file relation or an already-materialized local relation.
# Anything else — a join, aggregate, window, another Python kernel —
# means `.rdd` would FINALIZE the AQE plan and eagerly execute every
# upstream shuffle stage once for the probe and again for the real
# query (r11 ADVICE item 1), so the spread is skipped and the frame
# keeps its own parallelism.
_CHEAP_NODES = frozenset({
    "Project", "Filter", "Generate", "LogicalRelation", "LogicalRDD",
    "LocalRelation", "InMemoryRelation",
})


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to the session shuffle width when
    the scan under-splits: a small single-row-group parquet reads as
    ONE split, serializing a CPU-bound mapInPandas kernel through one
    core (measured in r11: winnow 2.1-4.5 s serial vs 0.8-1.4 s spread
    at sf0.1). At warehouse scale the ingest has far more splits than
    the width, the probe never fires, and no payload bytes are
    reshuffled. Only worth it for EXPENSIVE kernels — spreading cheap
    ones measured slower (normalize_text 0.56 -> 0.86 s: shuffling the
    text cost more than the kernel).

    Guards:
    - streaming frames are returned untouched (``.rdd`` throws on an
      unstarted stream; the per-micro-batch kernels are stateless and
      partition-invariant);
    - the partition probe runs only when every node class of the
      optimized plan is in ``_CHEAP_NODES`` (scan-shaped), so it can
      never double-execute upstream work;
    - a non-numeric shuffle-partitions conf falls back to
      ``defaultParallelism`` (session_width), and any probe failure
      (e.g. Spark Connect, where ``.rdd`` is unsupported) skips the
      spread instead of failing the query.
    """
    if df.isStreaming:
        return df
    width = session_width(df.sparkSession)
    try:
        if any(node_class(n) not in _CHEAP_NODES for n in plan_nodes(df, "optimized")):
            return df
        if df.rdd.getNumPartitions() < width:
            return df.repartition(width)
    except Exception:  # noqa: BLE001 — Connect / exotic plans: no spread
        return df
    return df
