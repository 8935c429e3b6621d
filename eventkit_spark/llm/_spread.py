"""The CPU-spread remedy for expensive Arrow kernels on under-split
scans, shared by the llm operators (ONE copy — the r11 winnow change
duplicated multimodal's `_spread` inline and the two guards had already
started to drift; r11 ADVICE items 2-4 are folded in here)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..plans.audit import is_scan_shaped
from ..session import session_width


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
    - the partition probe runs only on a scan-shaped plan
      (``plans/audit.is_scan_shaped``), so it can never double-execute
      upstream work; a plan that cannot be read fails loudly;
    - a non-numeric shuffle-partitions conf falls back to
      ``defaultParallelism`` (session_width), and a failing partition
      probe (e.g. Spark Connect, where ``.rdd`` is unsupported) skips
      the spread instead of failing the query.
    """
    if df.isStreaming or not is_scan_shaped(df):
        return df
    width = session_width(df.sparkSession)
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — Connect has no .rdd: no spread
        return df
    return df.repartition(width) if n < width else df
