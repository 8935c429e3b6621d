"""Non-parquet dataset formats: CSV, JSON-lines, ORC, XML.

The engine's canonical storage is parquet (columnar, predicate
pushdown, min/max stats — the 100 TB default). Real pipelines also
ingest CSV/JSONL drops and hand results to systems that want them, so
these wrappers make the other formats first-class while keeping the
engine's determinism rules:

- **Schemas are explicit.** Inference samples the data (an extra scan)
  and can flip types between drops — a silent 100 TB hazard. Readers
  take a DDL string / StructType; ``infer=True`` opts into sampling
  explicitly.
- **Timestamps normalize on load** like ``load_table``: TIMESTAMP_NTZ
  is reinterpreted as LTZ in the pinned-UTC session so every
  event-time expression sees one flavor.
- **Writes bound file sizes** through the same sampled
  ``maxRecordsPerFile`` budget as ``write_dataset`` (the small/huge
  file failure modes don't care about the format).

Scale notes per format: CSV/JSONL are row-major and splittable only
when uncompressed (gzip members are not) — fine as an INGEST format,
wrong as the working set; ORC keeps columnar pruning and vectorized
reads (Spark's reader pushes filters like parquet). The loaders exist
to get data INTO parquet-backed EventFrames, not to run the pipeline
on CSV.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType, TimestampNTZType


def _normalize_ntz(df: DataFrame) -> DataFrame:
    for fld in df.schema.fields:
        if isinstance(fld.dataType, TimestampNTZType):
            df = df.withColumn(fld.name, F.col(fld.name).cast("timestamp"))
    return df


def load_csv(
    spark: SparkSession,
    path: str,
    schema: str | StructType | None = None,
    header: bool = True,
    infer: bool = False,
    **options,
) -> DataFrame:
    """CSV reader with an explicit schema (or explicit opt-in to
    inference's sampling scan)."""
    if schema is None and not infer:
        raise ValueError(
            "load_csv() needs an explicit schema (or infer=True to accept "
            "a sampling scan and drop-to-drop type drift)"
        )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    reader = spark.read.options(header=str(header).lower(), **options)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return _normalize_ntz(reader.csv(path))


def load_jsonl(
    spark: SparkSession,
    path: str,
    schema: str | StructType | None = None,
    infer: bool = False,
    **options,
) -> DataFrame:
    """JSON-lines reader (one object per line — the multiLine variant
    is NOT splittable and single-tasks each file at scale)."""
    if schema is None and not infer:
        raise ValueError(
            "load_jsonl() needs an explicit schema (or infer=True to accept "
            "a sampling scan)"
        )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return _normalize_ntz(reader.json(path))


def load_orc(
    spark: SparkSession,
    path: str,
    **options,
) -> DataFrame:
    """ORC reader — columnar like parquet (self-describing schema,
    filter pushdown, vectorized), no inference scan needed."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return _normalize_ntz(spark.read.options(**options).orc(path))


def load_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: str | StructType | None = None,
    infer: bool = False,
    **options,
) -> DataFrame:
    """XML reader (native in Spark 4 — no external jar): one row per
    ``row_tag`` element. Same explicit-schema discipline as CSV/JSONL;
    XML is NOT splittable within a file, so many medium files beat one
    giant dump at scale (parallelism = file count)."""
    if schema is None and not infer:
        raise ValueError(
            "load_xml() needs an explicit schema (or infer=True to accept "
            "a sampling scan)"
        )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    reader = spark.read.format("xml").option("rowTag", row_tag).options(
        **options
    )
    if schema is not None:
        reader = reader.schema(schema)
    return _normalize_ntz(reader.load(path))


def write_format(
    df: DataFrame,
    path: str,
    fmt: str,
    partition_by: tuple[str, ...] | list[str] = (),
    target_mb: int = 256,
    mode: str = "overwrite",
    **options,
) -> dict:
    """Format-generic export with the same bounded-file discipline as
    ``write_dataset`` (sampled maxRecordsPerFile, partition dirs,
    per-partition repartition so each value is written by few tasks)."""
    import math

    from .sinks import estimate_row_bytes

    if fmt not in ("csv", "json", "orc", "parquet", "xml"):
        raise ValueError(f"unsupported format {fmt!r}")
    est = estimate_row_bytes(df)
    rows_per_file = max(1, math.ceil(target_mb * 1024 * 1024 / est))
    out = df.repartition(*partition_by) if partition_by else df
    w = (
        out.write.mode(mode)
        .option("maxRecordsPerFile", rows_per_file)
        .options(**options)
        .format(fmt)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)
    return {"rows_per_file": rows_per_file, "est_row_bytes": est}


def load_webdataset(spark: SparkSession, path: str) -> DataFrame:
    """Read WebDataset tar shards (the standard large-scale multimodal
    training layout — github.com/webdataset/webdataset): every file
    ``<key>.<ext>`` inside a shard belongs to sample ``key``; one
    output row per sample, ``(shard, key, parts map<string, binary>)``.

    Scale shape: Spark's ``binaryFile`` source lists shards in
    parallel and hands each tar to ONE Arrow kernel task — samples are
    grouped inside the kernel (a tar's members all live in its row),
    so there is NO shuffle; partition parallelism = shard count, the
    layout's own unit of parallelism. The ``parts`` map feeds the
    multimodal feature kernels (``llm/multimodal``) directly.
    ``tarfile`` is stdlib — no codec gate.

    Shards must fit in executor memory (binaryFile materializes the
    tar; the format's own convention keeps shards ~100 MB-1 GB).
    """
    import pandas as pd

    bf = spark.read.format("binaryFile").load(
        path if path.endswith(".tar") else f"{path.rstrip('/')}/*.tar"
    )

    def parse(batches):
        import io
        import tarfile

        for pdf in batches:
            shards, keys, parts = [], [], []
            for p, content in zip(pdf["path"], pdf["content"]):
                samples: dict[str, list[tuple[str, bytes]]] = {}
                order: list[str] = []
                with tarfile.open(fileobj=io.BytesIO(bytes(content))) as tf:
                    for m in tf.getmembers():
                        if not m.isfile():
                            continue
                        # WebDataset's key rule splits at the first dot
                        # of the BASENAME, not the full path — a dotted
                        # directory ('v1.0/00001.txt') must not leak
                        # into the extension or mis-key the sample.
                        dirname, _, base = m.name.rpartition("/")
                        stem, dot, ext = base.partition(".")
                        key = f"{dirname}/{stem}" if dirname else stem
                        if not dot:  # extensionless member: ext = ''
                            ext = ""
                        if key not in samples:
                            samples[key] = []
                            order.append(key)
                        samples[key].append((ext, tf.extractfile(m).read()))
                for key in order:
                    shards.append(p)
                    keys.append(key)
                    parts.append(dict(samples[key]))
            yield pd.DataFrame({"shard": shards, "key": keys, "parts": parts})

    return bf.select("path", "content").mapInPandas(
        parse, "shard string, key string, parts map<string, binary>"
    )


def write_webdataset(
    df: DataFrame,
    path: str,
    samples_per_shard: int = 10_000,
    key_col: str = "key",
    parts_col: str = "parts",
) -> DataFrame:
    """Write ``(key, parts map<string, binary>)`` rows as WebDataset
    tar shards under ``path`` (``part-<task>-<n>.tar``), rolling a new
    shard every ``samples_per_shard`` samples. Keys sort within each
    task so sample parts stay contiguous (the format's contract).

    Returns the manifest ``(shard, n_samples, n_bytes)`` — an eager
    action has to consume it for the write to happen (same discipline
    as foreachBatch sinks). Executor tasks write shards directly, like
    WebDataset's own ShardWriter — ``path`` must be storage every
    executor can reach (local/NFS/FUSE mount; this engine's test rig
    is single-node).
    """
    import os

    os.makedirs(path, exist_ok=True)

    def writer(batches):
        import io
        import tarfile
        import uuid

        import pandas as pd

        task = uuid.uuid4().hex[:12]
        buf: list[tuple[str, dict]] = []
        shard_no = 0
        out: list[tuple[str, int, int]] = []

        def flush():
            nonlocal shard_no
            if not buf:
                return
            # executor-side makedirs too: the driver's makedirs only
            # exists on shared storage; local-disk executors would
            # otherwise fail on first write
            os.makedirs(path, exist_ok=True)
            name = os.path.join(path, f"part-{task}-{shard_no:05d}.tar")
            n_bytes = 0
            with tarfile.open(name, "w") as tf:
                for key, parts in sorted(buf, key=lambda kv: kv[0]):
                    for ext in sorted(parts):
                        data = bytes(parts[ext])
                        info = tarfile.TarInfo(
                            f"{key}.{ext}" if ext else key
                        )
                        info.size = len(data)
                        tf.addfile(info, io.BytesIO(data))
                        n_bytes += len(data)
            out.append((name, len(buf), n_bytes))
            buf.clear()
            shard_no += 1

        for pdf in batches:
            for key, parts in zip(pdf[key_col], pdf[parts_col]):
                buf.append((str(key), parts))
                if len(buf) >= samples_per_shard:
                    flush()
        flush()
        yield pd.DataFrame(
            out, columns=["shard", "n_samples", "n_bytes"]
        ) if out else pd.DataFrame(
            {"shard": pd.Series(dtype="str"),
             "n_samples": pd.Series(dtype="int64"),
             "n_bytes": pd.Series(dtype="int64")}
        )

    return df.select(key_col, parts_col).mapInPandas(
        writer, "shard string, n_samples long, n_bytes long"
    )
