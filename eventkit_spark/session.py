"""SparkSession factory with scale-aware defaults.

Local testing uses ``local[N]``; the same configs are what we'd set on a
real cluster (AQE on, shuffle partitions sized to cores, Arrow on for the
few pandas-UDF kernels). Nothing here is local-mode specific except the
master URL, which is only applied when no master is configured.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _advisory_partition_bytes(cpus: int) -> str:
    """Scale-adaptive AQE advisory partition size (guide §2.2: size
    post-shuffle partitions by BYTES and let AQE coalesce, instead of
    inheriting the core count).

    Explicit override: ``SPARK_GRAFT_ADVISORY_PARTITION`` (e.g. "256m"
    on a production cluster). Otherwise derived from the input dataset
    (``SPARK_GRAFT_SF_DIR``): total-bytes / (4 tasks per core), clamped
    to [2 MiB, 256 MiB] — at benchmark scale this coalesces near-empty
    reducers away (per-task scheduling overhead dominates sub-MB
    partitions), at warehouse scale the same formula saturates at the
    large-partition sizing §2.2 recommends. Falls back to Spark's 64m
    default when no input dir is known."""
    override = os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION")
    if override:
        return override
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if sf_dir and os.path.isdir(sf_dir):
        total = 0
        for root, _dirs, files in os.walk(sf_dir):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        if total:
            return str(min(max(total // (cpus * 4), 2 << 20), 256 << 20))
    return "64m"


def session_width(spark: SparkSession) -> int:
    """Parallelism width for explicit repartition/slice decisions:
    ``spark.sql.shuffle.partitions`` when numeric, else the scheduler's
    ``defaultParallelism`` (some platforms set the conf to "auto", and
    ``int()`` on that turned a sizing probe into a hard query failure —
    r11 ADVICE)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def _size_to_bytes(v: str) -> int:
    """Parse a Spark-style size ("2097152", "100b", "64m", "64mb",
    "1.5g") to bytes: an integer or float mantissa, then no suffix, a
    plain byte ``b``, or ``k``/``m``/``g`` with an optional ``b``."""
    s = str(v).strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    for suffix, mult in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if s.endswith(suffix):
            return int(float(s[:-1]) * mult)
    return int(float(s))


def get_spark(app_name: str = "eventkit_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SQL_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Respect the advisory byte size when coalescing instead of
        # stopping at the core count (Spark's own docs recommend false
        # once the advisory size is deliberately set): tiny shuffles
        # collapse to a handful of tasks, huge ones keep full width.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            os.environ.get("SPARK_GRAFT_PARALLELISM_FIRST", "false"),
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            _advisory_partition_bytes(cpus),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the driver's testdata parquet stores TIMESTAMP(NANOS), which the
        # Spark reader rejects by default; read as long + convert in
        # sources.tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    # generic conf passthrough for experiments / production tuning:
    # SPARK_GRAFT_EXTRA_CONF="spark.a=1;spark.b=2" (e.g. point
    # spark.local.dir at the NVMe array on a real cluster — measured
    # locally and rejected as a default: /tmp writes here are
    # page-cache-buffered and never fsynced, so a tmpfs scratch moved
    # nothing and cost ~10% on the stateful streaming contracts)
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, (p.strip() for p in extra.split(";"))):
        k, _, v = pair.partition("=")
        builder = builder.config(k.strip(), v.strip())
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
