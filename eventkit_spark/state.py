"""Sequential recurrences: one keyed-scan lane and the steps it runs.

Six operators are true sequential recurrences with no window-function
form (SURVEY.md §4.2): exact EMA (eventkit/ops/aggregate.py:95-111),
Throttle's re-timestamping (eventkit/ops/timing.py:104-184), CUSUM, Holt,
the 1-D Kalman filter, and the arbitrary-Python running fold behind
``reduce`` (aggregate.py:18-36). Each is written ONCE, as a step:

    step(cols, state) -> (outs, state)

``cols`` holds one key run's input arrays in order, ``state`` is the
carried tuple (None at the key's first row), ``outs`` the run's output
arrays. The batch kernels run their step through ``_keyed_scan``; the
streaming twins (streaming/stream.py) call the same step once per key
group per micro-batch, with the state in the state store.

Steps are built by factories: a nested function's ``<locals>`` qualname
makes cloudpickle ship it BY VALUE, so executors never import this
package (it may be driver-side only, a sys.path-injected checkout).
"""

from __future__ import annotations

import math
from collections import deque

import numpy as np
import pandas as pd


def _keyed_scan(df, key_cols, seq_col, step, in_cols, out_fields):
    """Run ``step`` over every key's rows in ``seq_col`` order.

    One linear pass per key partition: ``repartition(keys)`` plus
    ``sortWithinPartitions(keys, seq)`` (``coalesce(1)`` when keyless,
    the reference's single process), then ``mapInPandas``, which pays
    one Python/Arrow round trip per Arrow batch rather than per key.
    Key runs are found NULL-safely (two NULL keys are one key, as in
    ``groupBy`` and the state store), and a key split across batches
    carries its state into the next batch.

    ``out_fields`` are ``(name, ddl)`` pairs in step-output order: a
    name already in ``df`` is replaced in place, a new one appended."""
    key_cols = list(key_cols)
    names = [n for n, _ in out_fields]
    types = dict(out_fields)
    schema = ", ".join(
        [f"{f.name} {types.pop(f.name, f.dataType.simpleString())}"
         for f in df.schema.fields]
        + [f"{n} {t}" for n, t in types.items()]
    )

    def kernel(batches):
        state, last = None, None  # last: the previous batch's final key
        for pdf in batches:
            if not len(pdf):
                continue
            starts = np.zeros(1, dtype=np.int64)
            if key_cols:
                kmat = pdf[key_cols]
                prev = kmat.shift()
                changed = (
                    (kmat.ne(prev) & ~(kmat.isna() & prev.isna())).any(axis=1).to_numpy()
                )
                changed[0] = True
                starts = np.flatnonzero(changed)
                first = kmat.iloc[0].tolist()
                if last is None or not all(
                    a == b or (pd.isna(a) and pd.isna(b)) for a, b in zip(first, last)
                ):
                    state = None
                last = kmat.iloc[-1].tolist()
            cols = [pdf[c].to_numpy() for c in in_cols]
            parts = []
            for i, (s, e) in enumerate(zip(starts, [*starts[1:], len(pdf)])):
                if i:
                    state = None
                outs, state = step([c[s:e] for c in cols], state)
                parts.append(outs)
            if len(parts) > 1:
                parts = [[np.concatenate(p) for p in zip(*parts)]]
            yield pdf.assign(**dict(zip(names, parts[0])))

    if key_cols:
        arranged = df.repartition(*key_cols).sortWithinPartitions(*key_cols, seq_col)
    else:
        arranged = df.coalesce(1).sortWithinPartitions(seq_col)
    return arranged.mapInPandas(kernel, schema=schema)


def _make_round6():
    def _round6(arr):
        """Round to 6 decimals with HALF-AWAY-FROM-ZERO ties on the
        scaled double, the semantics DuckDB's round(DOUBLE, n) and
        Spark's F.round share. np.round is half-EVEN, and Python's
        round() too: a recurrence landing exactly on a 5e-7 boundary
        (holt hit one at sf0.01) would flip the last digit between
        engines. NaN stays NaN."""
        return np.copysign(np.floor(np.abs(arr) * 1e6 + 0.5), arr) / 1e6

    return _round6


_round6 = _make_round6()


def _make_ema_step(w: float):
    def step(cols, state):
        """Missing values follow the pinned algebra of the window form
        (``_ema_staged``) and the streaming scan: NULL until the key's
        first value, a NULL row decays the ema by (1-w), full-weight
        seed only for a non-NULL literal first row."""
        vals = np.asarray(cols[0], dtype="float64").tolist()
        fresh = state is None
        ema, seen = (math.nan, False) if fresh else state
        out = np.full(len(vals), math.nan)
        for i, v in enumerate(vals):
            if not math.isnan(v):
                if not seen:
                    ema = v if fresh and i == 0 else w * v
                    seen = True
                else:
                    ema = (1.0 - w) * ema + w * v
            elif seen:
                ema = (1.0 - w) * ema
            if seen:
                out[i] = ema
        return (out,), (ema, seen)

    return step


def _make_throttle_step(maximum, interval, cost=1.0, sched=(), status=False):
    def step(cols, state):
        """Sliding-budget re-timestamping. ``cols`` is the event time
        (datetime64) and, optionally, a per-row cost; emits the
        re-stamped time (plus ``throttled`` when ``status``)."""
        times = cols[0].astype("int64") / 1e9  # epoch s
        costs = cols[1].tolist() if len(cols) > 1 else None
        if state is None:
            # (emit_time, cost) window, its cost, last emit, next
            # limit-change index, current maximum and interval
            state = (deque(), 0.0, -math.inf, 0, maximum, interval)
        window, used, last_emit, si, mx, iv = state
        n_sched, emits = len(sched), []
        for i, t in enumerate(times.tolist()):
            c = cost if costs is None else costs[i]
            # FIFO: a queued row cannot emit before its predecessor
            t = max(t, last_emit)
            # earliest admissible time given the sliding budget
            while True:
                while si < n_sched and sched[si][0] <= t:
                    _, mx, iv = sched[si]
                    si += 1
                while window and window[0][0] <= t - iv:
                    used -= window.popleft()[1]
                if used + c <= mx or not window:
                    break
                # wait until the oldest in-window emission expires, or
                # until a pending limit change, which may raise the budget
                t_next = window[0][0] + iv
                if si < n_sched and sched[si][0] < t_next:
                    t = sched[si][0]
                else:
                    t = t_next
            emits.append(t)
            last_emit = t
            window.append((t, c))
            used += c
        out = np.array(emits)
        # whole microseconds: float-derived ns residue makes the Arrow
        # ns->us cast "unsafe"
        micros = np.round(out * 1e6).astype("int64")
        outs = ((micros * 1000).astype("datetime64[ns]"),)
        if status:
            outs += (out > times + 1e-9,)
        return outs, (window, used, last_emit, si, mx, iv)

    return step


def _make_cusum_step(target, h, slack, reset):
    kt, kh, kk = float(target), float(h), float(slack)

    def step(cols, state):
        hi, lo = (0.0, 0.0) if state is None else state
        acc, al = [], []
        for v in np.asarray(cols[0], dtype="float64").tolist():
            nh = max(0.0, hi + (v - kt) - kk)
            nl = max(0.0, lo - (v - kt) - kk)
            a = nh > kh or nl > kh
            acc.append((nh, nl))
            al.append(a)
            hi, lo = (0.0, 0.0) if (a and reset) else (nh, nl)
        nh_, nl_ = _round6(np.array(acc)).T
        return (nh_, nl_, np.array(al, dtype=bool)), (hi, lo)

    return step


def _make_holt_step(alpha, beta):
    a, b = float(alpha), float(beta)
    one_a, one_b = 1.0 - a, 1.0 - b

    def step(cols, state):
        rows = []
        for v in np.asarray(cols[0], dtype="float64").tolist():
            if state is None:
                nl, nt = v, 0.0
            else:
                pl, pt = state
                nl = a * v + one_a * (pl + pt)
                nt = b * (nl - pl) + one_b * pt
            state = (nl, nt)
            rows.append((nl, nt, nl + nt))
        return tuple(_round6(np.array(rows)).T), state

    return step


def _make_kalman_step(q, r, p0):
    kq, kr, kp0 = float(q), float(r), float(p0)

    def step(cols, state):
        rows = []
        for v in np.asarray(cols[0], dtype="float64").tolist():
            if state is None:
                nx, np_, nk = v, kp0, 0.0
            else:
                px, pp = state
                pm = pp + kq
                nk = pm / (pm + kr)
                nx = px + nk * (v - px)
                np_ = (1.0 - nk) * pm
            state = (nx, np_)
            rows.append((nx, np_, nk))
        return tuple(_round6(np.array(rows)).T), state

    return step


def _make_fold_step(func, initializer):
    def step(cols, state):
        """Arbitrary-Python running fold; without an initializer the
        key's first element seeds it. Elements reach ``func`` as the
        numpy scalars Arrow delivered."""
        acc, seeded = (initializer, False) if state is None else state
        out = np.empty(len(cols[0]), dtype=object)
        for i, x in enumerate(cols[0]):
            acc = x if not seeded and initializer is None else func(acc, x)
            seeded = True
            out[i] = acc
        return (out,), (acc, seeded)

    return step


def ema_exact(ef, n: int | None = None, weight: float | None = None):
    """Linear-scan EMA recurrence per key — use when per-key streams are
    too long for the closed-form window formulation (> ~6000 rows).
    NaN round-trips to NULL through Arrow (pinned in tests)."""
    w = weight if weight is not None else 2.0 / (n + 1)
    v = ef.value_cols[0]
    df = _keyed_scan(ef.df, ef.key_cols, ef.seq_col, _make_ema_step(w), [v], [(v, "double")])
    return ef._with(df=df)


def throttle(ef, maximum: float, interval: float, cost: float = 1.0, cost_expr=None,
             status: bool = False, limit_changes=None):
    """Rate-limit without dropping: at most ``maximum`` total cost per
    sliding ``interval`` seconds; excess rows are re-timestamped to the
    earliest time the budget allows (timing.py:104-184 queues and
    re-schedules; over a recorded stream that is exactly a deterministic
    re-timestamping).

    ``cost_expr`` (a Column) gives per-row cost (the reference's
    cost_func); ``status=True`` appends a ``throttled`` boolean column —
    the reference's status_event is this column's change stream
    (``.changes()`` over it).

    ``limit_changes`` is the reference's dynamic ``set_limit``
    (timing.py:124-131) recast in event time: an iterable of
    ``(ts, maximum, interval)`` triples (ts = datetime or epoch seconds).
    Each key applies a change once its candidate emit time reaches the
    change time — including jumping a waiting row forward to a change
    that raises the budget. The schedule is a tiny driver-side config
    (closure-captured), not a shuffled stream.
    """
    ts_col = ef.ts_col
    if not ts_col:
        raise ValueError("throttle() needs an event-time column")

    sched = []
    if limit_changes:
        for t, mx, iv in limit_changes:
            if hasattr(t, "timestamp"):
                t = pd.Timestamp(t).timestamp()
            sched.append((float(t), float(mx), float(iv)))
        sched.sort()

    src, in_cols = ef.df, [ts_col]
    if cost_expr is not None:
        src, in_cols = src.withColumn("__ek_cost", cost_expr.cast("double")), [ts_col, "__ek_cost"]
    out_fields = [(ts_col, src.schema[ts_col].dataType.simpleString())]
    if status:
        out_fields.append(("throttled", "boolean"))
    step = _make_throttle_step(maximum, interval, cost, sched, status)
    df = _keyed_scan(src, ef.key_cols, ef.seq_col, step, in_cols, out_fields)
    return ef._with(df=df.drop("__ek_cost"))


def cusum(ef, target: float, h: float, slack: float = 0.0, reset: bool = True):
    """Two-sided CUSUM control chart (Page 1954) per key: the classic
    sequential change-point detector.

        hi_i = max(0, hi_{i-1} + (x_i - target) - slack)
        lo_i = max(0, lo_{i-1} - (x_i - target) - slack)
        alarm_i = hi_i > h  or  lo_i > h

    ``reset=True`` (the restart convention) zeroes both accumulators
    after an alarm so each drift episode fires once. The clamped
    recurrence is NOT linear (unlike EMA), so no closed-form window
    scan exists. Adds ``cusum_hi`` / ``cusum_lo`` (rounded 6) and
    ``alarm`` columns.

    Reference analog: none (the reference cuts/thins streams; this is
    the monitoring primitive the engine adds next to ``anomaly``).
    """
    out = ["cusum_hi", "cusum_lo", "alarm"]
    step = _make_cusum_step(target, h, slack, reset)
    df = _keyed_scan(ef.df, ef.key_cols, ef.seq_col, step, ef.value_cols[:1],
                     list(zip(out, ["double", "double", "boolean"])))
    return ef._with(df=df, value_cols=[*ef.value_cols, *out])


def holt(ef, alpha: float = 0.5, beta: float = 0.3):
    """Holt double-exponential smoothing per key (level + trend — the
    classic short-horizon forecasting primitive next to ``ema``):

        level_i = alpha*x_i + (1-alpha)*(level_{i-1} + trend_{i-1})
        trend_i = beta*(level_i - level_{i-1}) + (1-beta)*trend_{i-1}

    seeded level_1 = x_1, trend_1 = 0. Adds ``level`` / ``trend`` /
    ``forecast`` (= level + trend, the one-step-ahead prediction),
    each rounded to 6.

    The COUPLED two-state recurrence has no single-column window form
    (EMA's trick scans one state). The float ops are written in one
    fixed order (and ``1-alpha`` / ``1-beta`` derived the same way in
    the oracle) so a recursive-CTE replay is bit-identical.
    """
    out = ["level", "trend", "forecast"]
    df = _keyed_scan(ef.df, ef.key_cols, ef.seq_col, _make_holt_step(alpha, beta),
                     ef.value_cols[:1], [(c, "double") for c in out])
    return ef._with(df=df, value_cols=[*ef.value_cols, *out])


def kalman1d(ef, q: float = 0.01, r: float = 1.0, p0: float = 1.0):
    """1-D Kalman filter per key (random-walk state, direct noisy
    observation — the classic smoother/tracker next to ``ema``/``holt``):

        p_i^-  = p_{i-1} + q          (predict variance)
        k_i    = p_i^- / (p_i^- + r)  (gain)
        x_i    = x_{i-1} + k_i*(z_i - x_{i-1})
        p_i    = (1 - k_i) * p_i^-

    seeded x_1 = z_1, p_1 = p0. ``q`` is process noise, ``r``
    observation noise. Adds ``kf_x`` (the filtered estimate), ``kf_p``
    (posterior variance) and ``kf_gain`` — each rounded half-away to 6.

    The gain makes the recurrence nonlinear in state (a division), so
    no window form exists; the recursive-CTE oracle runs the same
    float-op order.
    """
    out = ["kf_x", "kf_p", "kf_gain"]
    df = _keyed_scan(ef.df, ef.key_cols, ef.seq_col, _make_kalman_step(q, r, p0),
                     ef.value_cols[:1], [(c, "double") for c in out])
    return ef._with(df=df, value_cols=[*ef.value_cols, *out])
