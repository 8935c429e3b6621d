"""EventFrame — the engine's stream façade over a Spark DataFrame.

The reference's one abstraction is the totally ordered, timed Event
stream with fluent operators chained off it (eventkit/event.py:638-1310).
EventFrame mirrors that surface 1:1 on a lazily-planned DataFrame
(SURVEY.md §1.3): canonical columns are

    seq  BIGINT     -- emit order within a key (gapless not required)
    ts   TIMESTAMP  -- event time (optional but needed by timing ops)
    <key columns>   -- optional partition key(s): the scale dimension
    <payload cols>  -- 1..n positional payload columns

Construction is lazy (a logical plan, not a live object graph —
SURVEY.md §3.1's architectural inversion); ``collect``/``to_list`` are the
reference's ``run()`` terminal path (event.py:235-257).

Scale: with key columns set, every order-dependent operator is an
independent per-key computation (one shuffle on the key, then
partition-local windows). Unkeyed streams are the reference's
single-process model; their default forms window over one task, and
``scaled=True`` switches every parallelizable unkeyed op (the running
aggregates + EMA, takewhile/dropwhile, skip/take/enumerate/count,
changes, previous/pairwise, chunk, iterate) to the range-bucketed
two-pass that keeps the same values while running partition-parallel.
Only the inherently sequential surfaces (list/deque running collects,
arbitrary non-associative reduce) stay single-task by semantics.
"""

from __future__ import annotations

from typing import Callable, Iterable, Sequence

from pyspark.sql import DataFrame

from .operators import aggregate as _agg
from .operators import combine as _combine
from .operators import higher_order as _ho
from .operators import misc as _misc
from .operators import select as _select
from .operators import timing as _timing
from .operators import transform as _transform
from . import state as _state

# distinct "not provided" marker: _with(ts_col=None) must mean "clear"
_UNSET = object()


class EventFrame:
    """A (possibly keyed) ordered event stream backed by a DataFrame."""

    def __init__(
        self,
        df: DataFrame,
        value_cols: Sequence[str] = ("value",),
        seq_col: str = "seq",
        ts_col: str | None = "ts",
        key_cols: Sequence[str] = (),
        end_ts=None,
    ):
        self.df = df
        self.value_cols = list(value_cols)
        self.seq_col = seq_col
        self.ts_col = ts_col if ts_col in df.columns else None
        self.key_cols = [k for k in key_cols]
        # Optional explicit end-of-stream time (the reference's done event
        # can fire later than the last emit, e.g. a marble '|'); None means
        # "ends at its last emit".
        self.end_ts = end_ts

    # -- plumbing -----------------------------------------------------
    def _with(self, df=None, value_cols=None, seq_col=None, ts_col=_UNSET, key_cols=None):
        """Derive a frame with some fields replaced. ``ts_col`` uses a
        sentinel default so callers can explicitly CLEAR it with
        ``ts_col=None`` (a frame that dropped its ts column must not keep
        a stale reference — round-1 ADVICE, low); membership in the new
        df is re-validated by ``__init__``."""
        return EventFrame(
            df if df is not None else self.df,
            value_cols if value_cols is not None else self.value_cols,
            seq_col or self.seq_col,
            self.ts_col if ts_col is _UNSET else ts_col,
            key_cols if key_cols is not None else self.key_cols,
            end_ts=self.end_ts,
        )

    def pipe(self, *fns: Callable[["EventFrame"], "EventFrame"]) -> "EventFrame":
        """Operator composition (event.py:259-282)."""
        ef = self
        for fn in fns:
            ef = fn(ef)
        return ef

    @classmethod
    def create(cls, obj, spark=None, **kwargs) -> "EventFrame":
        """Coerce into a stream (Event.create, event.py:484-506): an
        EventFrame passes through; a DataFrame wraps; a zero-arg
        constructor is called and its result re-coerced; an async
        iterator drains (Aiterate analog); an awaitable resolves to a
        single-emit Wait analog; any other iterable becomes a sequence
        source. Same coercion ladder as the reference, with the
        batch-mode difference that async objects are resolved at plan
        time (sources/create.py:38-57)."""
        if isinstance(obj, EventFrame):
            return obj
        if isinstance(obj, DataFrame):
            return cls(obj, **kwargs)
        is_async = hasattr(obj, "__aiter__") or hasattr(obj, "__await__")
        if callable(obj) and not is_async and not hasattr(obj, "__iter__"):
            # event-constructor-without-arguments (event.py:495-497)
            return cls.create(obj(), spark=spark, **kwargs)
        from .sources.create import aiterate, sequence, wait

        if spark is None:
            raise ValueError("spark session required to create from an iterable")
        if hasattr(obj, "__aiter__"):
            return aiterate(spark, obj, **kwargs)
        if hasattr(obj, "__await__"):
            import asyncio

            async def _resolve():
                return await obj

            return wait(spark, asyncio.run(_resolve()), **kwargs)
        if hasattr(obj, "__iter__"):
            return sequence(spark, list(obj), **kwargs)
        raise ValueError(f"cannot coerce {obj!r} into an EventFrame")

    @staticmethod
    def init(obj, names, spark) -> None:
        """Attach one empty stream per name as attributes of ``obj``
        (Event.init, event.py:470-480). Empty frames carry the default
        unary double payload; append with ``.merge``/``.chain``."""
        from .sources.tables import local_frame

        for name in names:
            df = local_frame(spark, [], "seq long, ts timestamp, value double")
            setattr(
                obj,
                name,
                EventFrame(df, value_cols=["value"], seq_col="seq", ts_col="ts"),
            )

    # -- terminals (event.py:235-257 run/list; event.py:339-389 aiter) -
    def collect(self):
        return self.df.collect()

    def value(self):
        """Most recent value of the stream (event.py:79-85)."""
        vals = self.last().to_list()
        return vals[0] if vals else None

    def first(self):
        """Next/first value — the ``await event`` analog
        (event.py:410-440)."""
        vals = self.take(1).to_list()
        return vals[0] if vals else None

    def to_list(self):
        """Ordered payload list — the reference's ``run()`` golden-list
        shape. Unary payloads unwrap to scalars (the 1-tuple convention,
        SURVEY.md §1.2)."""
        from pyspark.sql import functions as F

        order = [*(self.key_cols or []), self.seq_col]
        rows = self.df.orderBy(*[F.col(c) for c in order]).collect()
        if len(self.value_cols) == 1:
            return [r[self.value_cols[0]] for r in rows]
        return [tuple(r[c] for c in self.value_cols) for r in rows]

    def to_local_iterator(self):
        return self.df.toLocalIterator()

    def aiter(self, skip_to_last: bool = False):
        """Iterate the stream (event.py:339-389 ``__aiter__``).

        ``skip_to_last=True`` is the reference's backpressure-drop
        consumer (event.py:339-366): every value superseded before the
        consumer gets to it is discarded. Over a recorded batch frame the
        consumer is infinitely slow relative to the (already complete)
        stream, so it observes exactly the final value per key — the
        streaming analog is ``StreamFrame.foreach_latest``."""
        if skip_to_last:
            return iter(self.last().to_list())
        return self.df.toLocalIterator()

    def to_parquet(self, path: str, mode: str = "overwrite", partition_by=None):
        """Materialize the stream as parquet (batch sink). Partitioning
        by the stream key keeps downstream scans partition-pruned."""
        writer = self.df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        return path

    # -- selection (SURVEY.md §2.2) -----------------------------------
    def filter(self, predicate=None):
        return _select.filter_(self, predicate)

    def skip(self, count: int = 1, scaled: bool = False,
             partitions: int | None = None):
        if scaled:
            return _select.skip_scaled(self, count, partitions)
        return _select.skip(self, count)

    def take(self, count: int = 1, scaled: bool = False,
             partitions: int | None = None):
        if scaled:
            return _select.take_scaled(self, count, partitions)
        return _select.take(self, count)

    def takewhile(self, predicate, scaled: bool = False,
                  partitions: int | None = None):
        """Pass rows until the predicate first fails. ``scaled=True``
        (unkeyed streams only) switches to the two-pass range-bucketed
        form — the prefix flag is monotone, so it parallelizes exactly
        like the scaled running aggregates (select.takewhile_scaled)."""
        if scaled:
            return _select.takewhile_scaled(self, predicate, partitions)
        return _select.takewhile(self, predicate)

    def dropwhile(self, predicate, scaled: bool = False,
                  partitions: int | None = None):
        if scaled:
            return _select.dropwhile_scaled(self, predicate, partitions)
        return _select.dropwhile(self, predicate)

    def takeuntil(self, notifier: "EventFrame"):
        return _select.takeuntil(self, notifier)

    def changes(self, scaled: bool = False, partitions: int | None = None):
        if scaled:
            return _select.changes_scaled(self, partitions)
        return _select.changes(self)

    def unique(self, by=None, scaled: bool = False,
               partitions: int | None = None):
        """Order-preserving distinct. ``scaled=True`` (unkeyed only)
        switches to the two-pass rank + min-rank-per-key form that has
        no per-payload sort window (select.unique_scaled)."""
        if scaled:
            return _select.unique_scaled(self, by, partitions)
        return _select.unique(self, by)

    def last(self):
        """Final row per key. Already scale-shaped on unkeyed streams —
        one partial-combined ``max_by(struct)`` hash aggregate, no
        window — so there is no separate ``scaled=`` form."""
        return _select.last(self)

    # -- transforms (SURVEY.md §2.3) ----------------------------------
    def constant(self, value):
        return _transform.constant(self, value)

    def iterate(self, values: Iterable, scaled: bool = False,
                partitions: int | None = None):
        return _transform.iterate(self, values, scaled, partitions)

    def enumerate(self, start: int = 0, step: int = 1,
                  scaled: bool = False, partitions: int | None = None):
        return _transform.enumerate_(self, start, step, scaled, partitions)

    def count(self, start: int = 0, step: int = 1,
              scaled: bool = False, partitions: int | None = None):
        return _transform.count(self, start, step, scaled, partitions)

    def timestamp(self):
        return _transform.timestamp(self)

    def partial(self, *left):
        return _transform.partial(self, *left)

    def partial_right(self, *right):
        return _transform.partial_right(self, *right)

    def star(self):
        return _transform.star(self)

    def pack(self):
        return _transform.pack(self)

    def pluck(self, *selectors: str):
        return _transform.pluck(self, *selectors)

    def pluck_json(self, paths, variant: bool = True):
        """Schemaless pluck over a JSON payload: one VARIANT parse per
        row, ``try_variant_get`` per path (Spark 4 scale path); see
        operators/transform.pluck_json."""
        return _transform.pluck_json(self, paths, variant)

    def previous(self, count: int = 1, scaled: bool = False,
                 partitions: int | None = None):
        return _transform.previous(self, count, scaled, partitions)

    def copy(self):
        """Rows are immutable — identity (transform.py:144-155)."""
        return self

    deepcopy = copy

    def chunk(self, size: int, scaled: bool = False,
              partitions: int | None = None):
        return _transform.chunk(self, size, scaled, partitions)

    def map(self, fn, names=None):
        """Column-expression map (the fast, codegen'd path)."""
        return _transform.map_cols(self, fn, names)

    def map_pandas(self, fn, return_type, name: str = "value"):
        """Arbitrary-Python map (Arrow-batched pandas UDF)."""
        return _transform.map_pandas(self, fn, return_type, name)

    def map_async(
        self,
        coro_fn,
        return_type: str,
        timeout: float | None = None,
        ordered: bool = True,
        task_limit: int | None = None,
        name: str = "value",
    ):
        """Async map with bounded concurrency (transform.py:214-288)."""
        from .operators.async_map import map_async as _ma

        return _ma(self, coro_fn, return_type, timeout, ordered, task_limit, name)

    def try_map_pandas(self, fn, return_type, name: str = "value",
                       src: str | None = None):
        """map_pandas that routes exceptions to the error column;
        ``src`` tags the raising site into ``error_src``."""
        return _misc.try_map_pandas(self, fn, return_type, name, src)

    def try_map(self, fn, names=None, error_msg: str = "map failed",
                src: str | None = None):
        """Column-expression map with error-channel semantics: NULL
        results from non-null inputs populate ``error`` (fallible pluck,
        try_cast, try_divide, ...); ``src`` tags the site into
        ``error_src``."""
        return _misc.try_map_cols(self, fn, names, error_msg, src)

    # -- aggregates (SURVEY.md §2.4) ----------------------------------
    def reduce(self, merge_expr, initializer=None, result_type="double"):
        return _agg.reduce_(self, merge_expr, initializer, result_type)

    def min(self, scaled: bool = False, partitions: int | None = None):
        if scaled:
            return _agg.running_scaled(self, "min", partitions=partitions)
        return _agg.min_(self)

    def max(self, scaled: bool = False, partitions: int | None = None):
        if scaled:
            return _agg.running_scaled(self, "max", partitions=partitions)
        return _agg.max_(self)

    def sum(self, start=0, scaled: bool = False, partitions: int | None = None):
        """Running sum. ``scaled=True`` (unkeyed streams only) switches
        to the two-pass range-partitioned form — parallel at any length,
        exact on integers; float sums re-associate (see
        aggregate.running_scaled)."""
        if scaled:
            return _agg.running_scaled(self, "sum", start=start, partitions=partitions)
        return _agg.sum_(self, start)

    def product(self, start=1):
        return _agg.product(self, start)

    def mean(self, scaled: bool = False, partitions: int | None = None):
        if scaled:
            return _agg.running_scaled(self, "mean", partitions=partitions)
        return _agg.mean(self)

    def any(self, scaled: bool = False, partitions: int | None = None):
        if scaled:
            return _agg.running_scaled(self, "any", partitions=partitions)
        return _agg.any_(self)

    def all(self, scaled: bool = False, partitions: int | None = None):
        if scaled:
            return _agg.running_scaled(self, "all", partitions=partitions)
        return _agg.all_(self)

    def ema(self, n: int | None = None, weight: float | None = None,
            scaled: bool = False, partitions: int | None = None):
        """Exponential moving average. ``scaled=True`` (unkeyed only)
        runs the affine two-pass over range buckets — parallel at any
        length; floats may differ from the sequential form in final
        ulps (aggregate.ema_scaled)."""
        if scaled:
            return _agg.ema_scaled(self, n, weight, partitions)
        return _agg.ema(self, n, weight)

    def running_multi(self, *kinds: str, ema_n: int | None = None):
        """N running aggregates in one window pass (single shuffle)."""
        return _agg.running_multi(self, *kinds, ema_n=ema_n)

    def ema_exact(self, n: int | None = None, weight: float | None = None):
        return _state.ema_exact(self, n, weight)

    def pairwise(self, scaled: bool = False, partitions: int | None = None):
        return _agg.pairwise(self, scaled, partitions)

    def list(self):
        return _agg.list_(self)

    def deque(self, count: int = 0):
        return _agg.deque(self, count)

    array = deque  # ArrayType column is the engine's numpy-array analog

    def array_min(self, n: int = 0):
        return _agg.array_min(self, n)

    def array_max(self, n: int = 0):
        return _agg.array_max(self, n)

    def array_sum(self, n: int = 0):
        return _agg.array_sum(self, n)

    def array_prod(self, n: int = 0):
        return _agg.array_prod(self, n)

    def array_mean(self, n: int = 0):
        return _agg.array_mean(self, n)

    def array_std(self, n: int = 0):
        return _agg.array_std(self, n)

    def array_any(self, n: int = 0):
        return _agg.array_any(self, n)

    def array_all(self, n: int = 0):
        return _agg.array_all(self, n)

    # -- combinators (SURVEY.md §2.5) ---------------------------------
    def merge(self, *others: "EventFrame"):
        return _combine.merge(self, *others)

    def chain(self, *others: "EventFrame"):
        return _combine.chain(self, *others)

    def concat(self, *others: "EventFrame"):
        return _combine.concat(self, *others)

    def switch(self, *others: "EventFrame"):
        return _combine.switch(self, *others)

    def zip(self, *others: "EventFrame"):
        return _combine.zip_(self, *others)

    def ziplatest(self, *others: "EventFrame", partial: bool = True):
        return _combine.ziplatest(self, *others, partial=partial)

    def fork_zip(self, *branch_fns):
        return _combine.fork_zip(self, *branch_fns)

    def fork(self, *branch_fns):
        """Fork into N operator branches; join back via any ``Fork``
        method — ``ef.fork(f, g).merge()`` etc. (event.py:284-307,
        ops/combine.py:10-37). ``ef[f, g]`` is the bracket synonym."""
        return _combine.fork(self, *branch_fns)

    def __getitem__(self, branch_fns):
        """Square-bracket fork synonym (event.py:286-292:
        ``ev[ev.Min, ev.Max].zip()``)."""
        if not isinstance(branch_fns, tuple):
            branch_fns = (branch_fns,)
        return _combine.fork(self, *branch_fns)

    # -- higher-order (SURVEY.md §2.3 emap family) --------------------
    def emap(self, child_gen, joiner="merge"):
        """Generic emap with a named or user-supplied joiner
        (event.py:865-879)."""
        return _ho.emap(self, child_gen, joiner)

    def mergemap(self, child_gen):
        return _ho.mergemap(self, child_gen)

    def chainmap(self, child_gen):
        return _ho.chainmap(self, child_gen)

    def concatmap(self, child_gen):
        return _ho.concatmap(self, child_gen)

    def switchmap(self, child_gen):
        return _ho.switchmap(self, child_gen)

    # -- timing (SURVEY.md §2.6) --------------------------------------
    def delay(self, seconds: float):
        return _timing.delay(self, seconds)

    def timeout(self, seconds: float, emit_sentinel: bool = False):
        return _timing.timeout(self, seconds, emit_sentinel)

    def debounce(self, seconds: float, on_first: bool = False):
        return _timing.debounce(self, seconds, on_first)

    def sessionize(self, gap: float, session_col: str = "session"):
        return _timing.sessionize(self, gap, session_col)

    def resample(self, every: float, origin: float = 0.0):
        """OHLC downsample into fixed event-time buckets — returns a
        plain DataFrame (the stream shape ends at the rollup)."""
        return _timing.resample(self, every, origin)

    def rollup_cascade(
        self, levels=(60.0, 3600.0, 86400.0), origin: float = 0.0, materialize: bool = True
    ):
        """DataFrame of nested OHLC cells at every level (see
        operators.timing.rollup_cascade)."""
        return _timing.rollup_cascade(self, levels, origin, materialize)

    def rolling(self, seconds: float, min_periods: int = 1):
        return _timing.rolling(self, seconds, min_periods)

    def anomaly(self, seconds: float, z: float = 3.0, min_periods: int = 2):
        return _timing.anomaly(self, seconds, z, min_periods)

    def sample(self, timer: "EventFrame"):
        return _timing.sample(self, timer)

    def asof_join(self, other: "EventFrame", tolerance: float | None = None,
                  direction: str = "backward"):
        """Attach ``other``'s latest value at-or-before each row's event
        time (per shared key) as a ``value_r``/``ts_r`` column pair —
        the relational as-of join lifted to the fluent stream surface
        (operators/relational.py; one shuffle, linear)."""
        from pyspark.sql import functions as F

        from .operators.relational import asof_join as _asof

        if not self.ts_col or not other.ts_col:
            raise ValueError("asof_join() needs event-time on both streams")
        if list(other.key_cols) != list(self.key_cols):
            raise ValueError("asof_join() streams must share key columns")
        right = other.df.select(
            *[F.col(k) for k in other.key_cols],
            F.col(other.ts_col).alias(self.ts_col),
            F.col(other.value_cols[0]).alias("value_r"),
        )
        out = _asof(
            self.df,
            right,
            self.ts_col,
            by=list(self.key_cols) or None,
            right_cols=["value_r"],
            tolerance=tolerance,
            direction=direction,
        )
        return self._with(df=out)

    def chunkwith(self, timer: "EventFrame", emit_empty: bool = True):
        return _timing.chunkwith(self, timer, emit_empty)

    def throttle(self, maximum: float, interval: float, cost: float = 1.0,
                 cost_expr=None, status: bool = False, limit_changes=None):
        return _state.throttle(self, maximum, interval, cost, cost_expr, status,
                               limit_changes)

    def cusum(self, target: float, h: float, slack: float = 0.0, reset: bool = True):
        return _state.cusum(self, target, h, slack, reset)

    def holt(self, alpha: float = 0.5, beta: float = 0.3):
        return _state.holt(self, alpha, beta)

    def kalman1d(self, q: float = 0.01, r: float = 1.0, p0: float = 1.0):
        return _state.kalman1d(self, q, r, p0)

    # -- error channel (SURVEY.md §2.7) -------------------------------
    def errors(self):
        return _misc.errors(self)

    def end_on_error(self):
        return _misc.end_on_error(self)
