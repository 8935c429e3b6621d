"""Plan introspection: the one module that reads a Spark plan.

Operators stay declarative so Catalyst can optimize (SURVEY.md §4.2):
filters reach the parquet scan, small dimensions broadcast, windows
don't force extra shuffles. Tests, gates and scripts check that by
asking this module for named facts, each read from the JVM plan tree by
node CLASS, never from printed plan text, so a rendering change across
Spark versions cannot flip a check silently. The ``physical`` walk
covers what the printed executed plan shows: every node's children and
subqueries, an adaptive root's current plan, each query stage's plan
and the cached plan under an in-memory scan; a reused exchange is a
leaf. ``physical_plan`` is for display and saved audits only. A
streaming frame has no executed plan before its query starts, so only
its ``analyzed`` and ``optimized`` trees can be walked.
"""

from __future__ import annotations

from collections import Counter, namedtuple

from pyspark.sql import DataFrame

_PHASES = {"analyzed": "analyzed", "optimized": "optimizedPlan",
           "physical": "executedPlan"}
# physical nodes whose printed tree shows a plan besides their children
_INNER = {
    "AdaptiveSparkPlanExec": lambda n: n.executedPlan(),  # the current plan
    "InMemoryTableScanExec": lambda n: n.relation(),
    "InMemoryRelation": lambda n: n.cachedPlan(),
    **dict.fromkeys(
        ["ShuffleQueryStageExec", "BroadcastQueryStageExec",
         "TableCacheQueryStageExec", "ResultQueryStageExec"],
        lambda n: n.plan(),
    ),
}
_PYTHON_EVALS = frozenset({"ArrowEvalPythonExec", "BatchEvalPythonExec",
                           "MapInPandasExec", "FlatMapGroupsInPandasExec"})
_WINDOWS = frozenset({"WindowExec", "WindowGroupLimitExec"})
# Optimized-plan node classes under which converting to an RDD is
# plan-only work: narrow ops (a generator such as explode included)
# over a file relation or an already-materialized local relation.
_SCAN_SHAPED = frozenset({
    "Project", "Filter", "Generate", "LogicalRelation", "LogicalRDD",
    "LocalRelation", "InMemoryRelation",
})
# pandas kernels whose cost is per key group in Python
_PANDAS_KERNELS = frozenset({"FlatMapGroupsInPandasWithState", "MapInPandas"})


def _qe(df: DataFrame):
    return df._jdf.queryExecution()


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _tree(node) -> list:
    """An expression ``node`` and its descendants, parent first."""
    out, stack = [], [node]
    while stack:
        n = stack.pop()
        out.append(n)
        stack.extend(reversed(_seq(n.children())))
    return out


def _walk(df: DataFrame, phase: str) -> list:
    """``(class, node)`` for every node of ``df``'s plan in ``phase``,
    parent before children."""
    return _walk_from(getattr(_qe(df), _PHASES[phase])(), phase)


def _walk_from(root, phase: str) -> list:
    """``(class, node)`` for ``root`` and every node below it."""
    inner = _INNER if phase == "physical" else {}
    out, stack = [], [root]
    while stack:
        node = stack.pop()
        cls = node_class(node)
        out.append((cls, node))
        kids = _seq(node.children()) + _seq(node.subqueries())
        stack.extend(reversed([inner[cls](node)] + kids if cls in inner else kids))
    return out


def plan_nodes(df: DataFrame, phase: str = "analyzed") -> list:
    """Every node of ``df``'s JVM plan in ``phase`` (``"analyzed"``,
    ``"optimized"`` or ``"physical"``), parent before children."""
    return [node for _, node in _walk(df, phase)]


def node_class(node) -> str:
    """Simple class name of a JVM plan node or expression, e.g.
    ``"MapInPandas"``; a Scala object drops its ``$`` (``"LeftSemi"``)."""
    return node.getClass().getSimpleName().rstrip("$")


def node_counts(df: DataFrame, phase: str = "physical") -> Counter:
    """How many nodes of each class ``df``'s plan has in ``phase``."""
    return Counter(cls for cls, _ in _walk(df, phase))


def node_columns(node) -> frozenset:
    """Names of the columns a JVM plan node or expression reads."""
    return frozenset(a.name() for a in _seq(node.references().toSeq()))


def plan_expressions(df: DataFrame, phase: str = "physical") -> list:
    """Every expression node (whole trees) of ``df``'s plan in ``phase``."""
    return [x for _, n in _walk(df, phase) for e in _seq(n.expressions()) for x in _tree(e)]


def shuffles(df: DataFrame) -> Counter:
    """Shuffle exchanges of the physical plan by partitioning class
    (``HashPartitioning``, ``RoundRobinPartitioning``,
    ``SinglePartition``, ...). Broadcast exchanges are not shuffles, and
    a reused exchange is a reference, not a second shuffle."""
    return Counter(
        node_class(n.outputPartitioning())
        for cls, n in _walk(df, "physical")
        if cls == "ShuffleExchangeExec"
    )


def count_shuffles(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan, as
    ``plan_report['exchanges']`` (lower = better for the same result)."""
    return node_counts(df)["ShuffleExchangeExec"]


Predicate = namedtuple("Predicate", "classes columns")
Scan = namedtuple("Scan", "columns partition_filters data_filters")
Window = namedtuple("Window", "keys columns")


def _predicates(exprs) -> tuple:
    return tuple(
        Predicate(frozenset(node_class(x) for x in _tree(e)), node_columns(e))
        for e in _seq(exprs)
    )


def file_scans(df: DataFrame) -> list:
    """One ``Scan`` per file-source scan of the physical plan: its read
    columns, and its partition and data filters, each a ``Predicate``
    (the expression classes in its tree, the columns it reads)."""
    return [
        Scan(tuple(n.requiredSchema().fieldNames()),
             _predicates(n.partitionFilters()), _predicates(n.dataFilters()))
        for cls, n in _walk(df, "physical")
        if cls == "FileSourceScanExec"
    ]


def windows(df: DataFrame) -> list:
    """One ``Window`` per window node of the physical plan: its
    partition-by columns (``keys``) and every column it reads."""
    return [
        Window(frozenset().union(*map(node_columns, _seq(n.partitionSpec()))),
               node_columns(n))
        for cls, n in _walk(df, "physical")
        if cls in _WINDOWS
    ]


def is_scan_shaped(df: DataFrame) -> bool:
    """True when every optimized-plan node is a narrow op over a file or
    materialized relation, so converting ``df`` to an RDD is plan-only
    work. Anything else (a join, aggregate, window, another Python
    kernel) would make ``.rdd`` finalize the adaptive plan and run every
    upstream shuffle stage once for the probe and again for the query."""
    return all(cls in _SCAN_SHAPED for cls, _ in _walk(df, "optimized"))


def has_pandas_kernel(df: DataFrame) -> bool:
    """True when the analyzed plan runs a pandas state kernel or a
    ``mapInPandas``, whose cost is per key group in Python."""
    return any(cls in _PANDAS_KERNELS for cls, _ in _walk(df, "analyzed"))


def repeated_python_udfs(df: DataFrame) -> list:
    """Names of the Python UDF calls the physical plan evaluates twice
    in one lineage: a call (one result id) in a Python eval node and
    again in an eval node below it. Catalyst can copy a pure kernel
    into every projection that reads one of its struct fields, or below
    a filter it pushes down, and each copy runs; ``asNondeterministic``
    pins it to one evaluation. Copies in sibling branches are not
    counted: they are one subtree read by two branches, and whether it
    runs twice is decided by exchange reuse, not by a copied kernel."""

    def calls(node):
        return {
            x.resultId().id(): x.name()
            for e in _seq(node.expressions()) for x in _tree(e)
            if node_class(x) == "PythonUDF"
        }

    found = set()
    for cls, n in _walk(df, "physical"):
        if cls in _PYTHON_EVALS:
            mine = calls(n)
            for below_cls, below in _walk_from(n, "physical")[1:]:
                if below_cls in _PYTHON_EVALS:
                    found |= {mine[i] for i in mine.keys() & calls(below).keys()}
    return sorted(found)


def semantic_hash(df: DataFrame) -> int:
    """Hash of the analyzed plan that ignores cosmetic differences such
    as expression ids: equal for two builds of the same plan."""
    return _qe(df).analyzed().semanticHash()


def estimated_bytes(df: DataFrame) -> int:
    """Catalyst's optimizer estimate of the plan's output bytes — free
    (no job; file sources report size from footers)."""
    return int(_qe(df).optimizedPlan().stats().sizeInBytes())


def physical_plan(df: DataFrame) -> str:
    """The printed executed plan, for display and saved audits only."""
    return _qe(df).executedPlan().toString()


def assert_pushed_filter(df: DataFrame, fragment: str) -> None:
    """Assert a predicate was pushed into a file scan: ``fragment`` is
    part of one of its pushed source filters, e.g.
    ``"GreaterThan(value,100.0)"``."""
    pushed = [
        f.toString()
        for cls, n in _walk(df, "physical")
        if cls == "FileSourceScanExec"
        for f in _seq(n.pushedDownFilters())
    ]
    if not any(fragment in f for f in pushed):
        raise AssertionError(
            f"filter fragment {fragment!r} not pushed to any scan; pushed: {pushed}"
        )


def assert_broadcast_join(df: DataFrame, execute: bool = False) -> None:
    """Assert at least one join in the plan executes as a broadcast.

    ``execute=True`` first runs ``df``'s own plan, so AQE's FINAL plan is
    inspected — required for joins the engine deliberately leaves
    unhinted (e.g. keyed takeuntil cut tables) where only runtime
    statistics reveal the small side. (An action such as ``df.count()``
    runs a different plan and leaves this one unfinalized.)"""
    if execute:
        _qe(df).toRdd().count()
    c = node_counts(df)
    if not c["BroadcastHashJoinExec"] + c["BroadcastNestedLoopJoinExec"]:
        raise AssertionError(f"no broadcast join in plan:\n{physical_plan(df)}")


def skew_report(df: DataFrame, keys: list[str], top: int = 10) -> DataFrame:
    """Partition-skew diagnostic: the ``top`` heaviest key groups with
    their corpus share (ppm) and size relative to the mean group
    (percent) — the first thing to look at when one task runs long at
    100 TB (then: salt the key, or let AQE skew-split the join).

    Scale shape: ONE hash aggregate on the keys (map-side combined),
    a 1-row totals aggregate broadcast back, and a TakeOrdered top-k —
    no window over groups, no global sort. All-integer outputs
    (integer-div ppm/percent) so any engine replays it exactly.

    Overflow contract: vs_mean_pct divides by the floored mean group
    size (``__tot div __nkeys``, always >= 1 since every key has >= 1
    row) instead of forming ``cnt * __nkeys * 100`` — that triple
    product exceeds int64 under ANSI mode at exactly the corpus scale
    (cnt ~1e9 x ~1e8 keys) this diagnostic targets. Mean-first floor
    rounding is part of the contract and replays identically in SQL.
    """
    from pyspark.sql import functions as F

    per = df.groupBy(*keys).agg(F.count("*").alias("cnt"))
    tot = per.agg(
        F.sum("cnt").cast("long").alias("__tot"),
        F.count("*").cast("long").alias("__nkeys"),
    )
    topk = per.orderBy(F.col("cnt").desc(), *keys).limit(top)
    out = topk.crossJoin(F.broadcast(tot)).select(
        *keys,
        F.col("cnt"),
        F.expr("cnt * 1000000 div __tot").cast("long").alias("share_ppm"),
        F.expr("cnt * 100 div (__tot div __nkeys)").cast("long").alias("vs_mean_pct"),
    )
    from pyspark.sql import Window as W

    return out.withColumn(
        "rank",
        F.row_number().over(W.orderBy(F.col("cnt").desc(), *[F.col(k) for k in keys])),
    )


def plan_report(df: DataFrame) -> dict:
    """One-call plan budget for CI assertions and plan reviews: counts
    of the physical-plan features that matter at 100 TB. Pure plan
    inspection — triggers no job.

    Keys: ``scans`` (file scans — each is a full pass over some
    table), ``exchanges`` (shuffles), ``broadcasts`` (broadcast
    exchanges — should cover every small-side join), ``sorts``,
    ``python_evals`` (Arrow/Python boundaries — the slow path),
    ``nested_loop_joins`` (almost always a missing equi-condition —
    the scale cliff to catch in review). Codegen spans are omitted:
    under AQE they only exist in the post-execution final plan, and a
    report that silently returned 0 pre-execution would mislead.
    """
    c = node_counts(df)
    return {
        "scans": c["FileSourceScanExec"],
        "exchanges": c["ShuffleExchangeExec"],
        "broadcasts": c["BroadcastExchangeExec"],
        "sorts": c["SortExec"],
        "python_evals": sum(c[k] for k in _PYTHON_EVALS),
        "nested_loop_joins": c["BroadcastNestedLoopJoinExec"]
        + c["CartesianProductExec"],
    }


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """Per-column data profile — the first query against any unfamiliar
    100 TB table: ``(column, n, n_null, n_distinct, min_num, max_num,
    mean, min_str, max_str)``, one row per profiled column. Numeric
    columns fill the ``*_num``/``mean`` readouts (mean rounded to 6),
    string columns the ``*_str`` ones; other types report counts only.

    Scale shape: ONE aggregate pass builds every metric; the single
    1-row result pivots to long form in-row (inline array of structs +
    explode — no second scan, no shuffle beyond the aggregate's own).
    ``n_distinct`` defaults to ``approx_count_distinct`` (HLL, single
    pass); ``exact_distinct=True`` switches to exact COUNT(DISTINCT),
    which Spark plans via EXPAND — one shuffle but data replicated once
    per profiled column, so reserve it for contract checks and narrow
    tables.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import NumericType, StringType

    cols = columns or df.columns
    # Helper aliases are POSITIONAL (f"__cnt_{i}"), never derived from
    # the column name: a name containing a dot (legal in Spark with
    # backticks) would make the F.col readback parse as a nested-field
    # access. Source columns are backtick-quoted for the same reason.
    aggs = []
    for i, c in enumerate(cols):
        dt = df.schema[c].dataType
        col = F.col("`" + c.replace("`", "``") + "`")
        aggs += [
            F.count(col).alias(f"__cnt_{i}"),
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"__nul_{i}"),
            (
                F.count_distinct(col)
                if exact_distinct
                else F.approx_count_distinct(col)
            ).alias(f"__nd_{i}"),
        ]
        if isinstance(dt, NumericType):
            aggs += [
                F.min(col).cast("double").alias(f"__mn_{i}"),
                F.max(col).cast("double").alias(f"__mx_{i}"),
                F.round(F.avg(col), 6).alias(f"__av_{i}"),
            ]
        elif isinstance(dt, StringType):
            aggs += [
                F.min(col).alias(f"__smn_{i}"),
                F.max(col).alias(f"__smx_{i}"),
            ]
    one = df.agg(*aggs)
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    rows = []
    for i, c in enumerate(cols):
        dt = df.schema[c].dataType
        num = isinstance(dt, NumericType)
        s = isinstance(dt, StringType)
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__cnt_{i}").alias("n"),
                F.col(f"__nul_{i}").alias("n_null"),
                F.col(f"__nd_{i}").alias("n_distinct"),
                (F.col(f"__mn_{i}") if num else null_d).alias("min_num"),
                (F.col(f"__mx_{i}") if num else null_d).alias("max_num"),
                (F.col(f"__av_{i}") if num else null_d).alias("mean"),
                (F.col(f"__smn_{i}") if s else null_s).alias("min_str"),
                (F.col(f"__smx_{i}") if s else null_s).alias("max_str"),
            )
        )
    return one.select(F.explode(F.array(*rows)).alias("p")).select("p.*")
