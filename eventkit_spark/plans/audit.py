"""Physical-plan audit helpers.

The engine's performance contract is that operators stay declarative so
Catalyst can optimize (SURVEY.md §4.2): filters reach the parquet scan,
small dimensions broadcast, windows don't force extra shuffles. These
helpers make those properties assertable in tests and inspectable in
notebooks — `.explain()` as a unit-testable API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_nodes(df: DataFrame, phase: str = "analyzed") -> list:
    """Every node of ``df``'s JVM plan tree in ``phase`` (``"analyzed"``
    or ``"optimized"``), parent before children. Callers test node
    CLASSES (``node_class``), never the plan's string rendering, so a
    wording change across Spark versions cannot flip a check silently."""
    def walk(node):
        yield node
        kids = node.children()
        for i in range(kids.size()):
            yield from walk(kids.apply(i))

    qe = df._jdf.queryExecution()
    root = {"analyzed": qe.analyzed, "optimized": qe.optimizedPlan}[phase]()
    return list(walk(root))


def node_class(node) -> str:
    """Simple class name of a JVM plan node, e.g. ``"MapInPandas"``."""
    return node.getClass().getSimpleName()


def assert_pushed_filter(df: DataFrame, fragment: str) -> None:
    """Assert a predicate was pushed into the scan (shows up in the
    FileSourceScan's PushedFilters list)."""
    plan = physical_plan(df)
    scans = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    if not any(fragment in ln for ln in scans):
        raise AssertionError(
            f"filter fragment {fragment!r} not pushed to any scan.\n"
            + "\n".join(scans or [plan])
        )


def assert_broadcast_join(df: DataFrame, execute: bool = False) -> None:
    """Assert at least one join in the plan executes as a broadcast.

    ``execute=True`` runs the query first so AQE's FINAL plan is
    inspected — required for joins the engine deliberately leaves
    unhinted (e.g. keyed takeuntil cut tables) where only runtime
    statistics reveal the small side."""
    if execute:
        df.count()
    plan = physical_plan(df)
    if "BroadcastHashJoin" not in plan and "BroadcastNestedLoopJoin" not in plan:
        raise AssertionError(f"no broadcast join in plan:\n{plan}")


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


def _shuffles(plan: str) -> int:
    """Shuffle exchanges in a physical-plan string, one per line that
    names an Exchange. ReusedExchange is a plan-tree reference (no
    second shuffle) and BroadcastExchange is a broadcast, not a
    shuffle — counting raw "Exchange" substrings would inflate CI
    budgets with both."""
    return sum(
        1
        for ln in plan.splitlines()
        if "Exchange" in ln
        and "Reused" not in ln
        and "BroadcastExchange" not in ln
    )


def count_shuffles(df: DataFrame) -> int:
    """Number of SHUFFLE exchanges in the physical plan (lower = better
    for the same result; windows/joins/aggregations each justify at most
    one); the rule ``plan_report['exchanges']`` uses."""
    return _shuffles(physical_plan(df))


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
    p = physical_plan(df)
    return {
        "scans": p.count("FileScan"),
        "exchanges": _shuffles(p),
        "broadcasts": p.count("BroadcastExchange"),
        "sorts": p.count("Sort "),
        "python_evals": sum(
            p.count(tag)
            for tag in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                        "FlatMapGroupsInPandas")
        ),
        "nested_loop_joins": p.count("BroadcastNestedLoopJoin")
        + p.count("CartesianProduct"),
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
