"""Sliding-window aggregation kernel.

Re-expresses the reference's rolling-window semantics
(``/root/reference/src/adtk/transformer/_transformer_1d.py:130-628``,
RollingAggregate / DoubleRollingAggregate) as Spark window aggregates
over the long schema ``(source, ts, value)``. One logical series per
``source``; ``Window.partitionBy(source).orderBy(ts)`` replaces the
pandas DatetimeIndex. All aggregates are JVM-side built-ins gated by a
``min_periods`` guard; NaN maps to SQL NULL throughout.

Frame semantics replicated point-for-point (verified against the
reference pytest goldens, ``tests/test_transformer1d.py``):

- int window w, center=False  -> ROWS [i-w+1, i]
- int window w, center=True   -> ROWS [i-(w-1)+o, i+o], o=(w-1)//2
- time window D, closed=right -> RANGE (t-D, t]   (pandas offset default)
- time window D, closed=left  -> RANGE [t-D, t)
- min_periods default: w for int windows, 1 for time windows
- DoubleRolling center=True:  left ROWS [i-wl, i-1] / RANGE [t-Dl, t),
                              right ROWS [i, i+wr-1] / RANGE [t, t+Dr)
- DoubleRolling center=False: right ROWS [i-wr+1, i] / RANGE (t-Dr, t],
                              left  ROWS [i-wr-wl+1, i-wr]
                                    / RANGE (t-Dr-Dl, t-Dr]
"""

from __future__ import annotations

import math
from typing import Any, Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from ..session import one_partition_if_small

MICROS = 1_000_000  # Spark timestamps are microsecond-resolution

ROWS = "rows"
RANGE = "range"

SCALAR_AGGS = frozenset(
    [
        "mean", "median", "sum", "min", "max", "std", "var", "skew",
        "kurt", "count", "nnz", "nunique", "iqr", "idr",
    ]
)


_DEPRECATED_UNITS = {"H": "h", "T": "min", "S": "s", "L": "ms",
                     "U": "us", "N": "ns"}
_SIMPLE_TD = None  # compiled lazily (module imports stay cheap)


def td_micros(window: str) -> int:
    """``pd.Timedelta(window)`` in integer microseconds, with the
    pandas-2-deprecated UPPERCASE unit aliases ('50H', '30T', ...)
    normalized first — pandas 3 removes them, and until then every parse
    emits a FutureWarning (r04 VERDICT item #9). Compound strings
    ('1 days 2 hours') pass through untouched."""
    global _SIMPLE_TD
    if _SIMPLE_TD is None:
        import re
        _SIMPLE_TD = re.compile(r"\s*([+-]?[\d.]*)\s*([A-Za-z]+)\s*$")
    m = _SIMPLE_TD.fullmatch(window)
    if m and m.group(2) in _DEPRECATED_UNITS:
        window = m.group(1) + _DEPRECATED_UNITS[m.group(2)]
    return int(pd.Timedelta(window).value // 1000)


def parse_window(window: int | str) -> tuple[str, int]:
    """Return (kind, size): ('rows', n) for int, ('range', micros) for str."""
    if isinstance(window, int):
        if window <= 0:
            raise ValueError("int window must be positive")
        return ROWS, window
    micros = td_micros(window)
    if micros <= 0:
        raise ValueError("time window must be positive")
    return RANGE, micros


def _bounds(kind: str, size: int, center: bool, closed: str | None) -> tuple[int, int]:
    """Frame bounds for a single rolling window ending at (or centered on) i."""
    if kind == ROWS:
        if center:
            offset = (size - 1) // 2
            return -(size - 1) + offset, offset
        return -(size - 1), 0
    # time-based: pandas default closed='right' -> (t-D, t]
    if center:
        raise ValueError("center=True is undefined for time windows in the reference")
    if closed == "left":
        return -size, -1
    return -size + 1, 0


def quoted(name: str) -> str:
    """``name`` as a quoted identifier for ``select`` / ``F.col``: names
    with dots (``value_roll_q0.5``) stay one column."""
    return "`" + name.replace("`", "``") + "`"


def select_with(cols: list[str], name: str, col: Column | str, drop=()) -> list:
    """The select list of ``withColumn(name, col).drop(*drop)`` over a
    frame with columns ``cols``: ``name`` replaced in place or appended.
    A builder that ends in this one projection pays one analyzer pass
    where ``withColumn`` + ``drop`` pay two (each Dataset step
    re-analyzes the whole plan on the driver). A str ``col`` is a SQL
    expression, and the list is then one for ``selectExpr``."""
    new = col.alias(name) if isinstance(col, Column) else f"{col} AS {quoted(name)}"
    out = [new if c == name else quoted(c) for c in cols if c not in drop]
    return out if name in cols else out + [new]


#: the SQL of ``_ordered``'s sort key
_ORDER_SQL = "unix_micros(CAST({} AS TIMESTAMP))"


def _ordered(source_col: str, ts_col: str) -> WindowSpec:
    # Both frame kinds order by unix_micros(ts) so that every window in a
    # plan shares one (partition, sort) pair -> Catalyst reuses a single
    # exchange + sort across all window nodes. The cast handles
    # TIMESTAMP_NTZ inputs (session TZ pinned to UTC, lossless). Build it
    # once per call site and derive each frame with `_frame`.
    order = F.expr(_ORDER_SQL.format(quoted(ts_col)))
    return Window.partitionBy(source_col).orderBy(order)


def _frame(w: WindowSpec, kind: str, lo: int, hi: int) -> WindowSpec:
    return w.rowsBetween(lo, hi) if kind == ROWS else w.rangeBetween(lo, hi)


def _over(source_col: str, ts_col: str, kind: str, lo: int, hi: int) -> str:
    """``_frame(_ordered(source_col, ts_col), kind, lo, hi)`` as a SQL
    ``OVER`` clause: a window projection written as a string costs one
    py4j round trip, where the WindowSpec alone takes about 25."""
    def bound(b: int) -> str:
        return "CURRENT ROW" if b == 0 else f"{abs(b)} {'PRECEDING' if b < 0 else 'FOLLOWING'}"

    return (f"OVER (PARTITION BY {quoted(source_col)} ORDER BY "
            f"{_ORDER_SQL.format(quoted(ts_col))} "
            f"{kind.upper()} BETWEEN {bound(lo)} AND {bound(hi)})")


def exact_quantile_agg(v: Column, p: float) -> Column:
    """Exact type-7 (pandas/numpy linear-interpolation) quantile as an
    aggregate expression built from collect_list + array_sort.

    This is 15-20x faster than Spark's `percentile` aggregate at high
    group cardinality (measured 59s vs 3.6s on a 1.4M-group rollup):
    Percentile's per-group OpenHashMap buffer thrashes, while
    collect_list is a flat array append. collect_list drops NULLs, which
    matches pandas skipna quantiles.
    """
    arr = F.array_sort(F.collect_list(v))
    return _interp_sorted(arr, p)


def exact_quantile_over(v: Column, win: WindowSpec, p: float) -> Column:
    """One-off exact quantile over a window frame.

    NOTE: expression form — `_interp_sorted` references the array five
    times and WindowExec does NOT dedupe identical window expressions,
    so this builds/sorts five frame buffers per row. Hot paths
    (rolling_agg / double_rolling_agg / shift detectors) materialize
    `sorted_frame_arr` once behind a projection instead."""
    arr = F.array_sort(F.collect_list(v).over(win))
    return _interp_sorted(arr, p)


#: aggs whose kernel is an exact quantile over the frame's sorted values
QUANTILE_AGGS = ("median", "quantile", "iqr", "idr")


def sorted_frame_arr(value_col: str, win: WindowSpec | str) -> Column | str:
    """The frame's non-null values as ONE sorted-array window expression
    (a SQL string when ``win`` is an ``_over`` clause).

    Quantile kernels index into this attribute after a projection
    boundary, so the frame is buffered and sorted exactly once per row
    regardless of how many quantiles/references are computed."""
    if isinstance(win, str):
        return f"array_sort(collect_list({quoted(value_col)}) {win})"
    return F.array_sort(F.collect_list(F.col(value_col)).over(win))


def single_row_arr(value_col: str) -> Column:
    """collect_list-equivalent for a degenerate single-row ROWS frame
    (e.g. DoubleRolling right window=1): [] when NULL else [value] —
    a pure projection, no window buffer at all. Built as a ``slice`` so
    whole-stage codegen compiles it: a ``CASE`` between ``array(v)`` and
    ``array()`` fails to compile for a non-nullable ``v`` (the stage
    drops to the interpreter), and ``array_compact`` is a higher-order
    function, evaluated interpreted on every row."""
    v = F.col(value_col)
    return F.slice(F.array(v), 1, v.isNotNull().cast("int"))


def type7_ranks(n: Column, p: float) -> tuple[Column, Column, Column]:
    """The two order statistics a type-7 ``p``-quantile of ``n`` values
    interpolates between: (1-based lower rank, 1-based upper rank,
    interpolation weight). Feed the picked values to `type7_interp`."""
    pos = (n.cast("double") - 1.0) * float(p)  # 0-based fractional rank
    lo_i = F.floor(pos).cast("int")
    return lo_i + 1, F.least(lo_i + 2, n), pos - lo_i.cast("double")


def type7_interp(n: Column, frac: Column, lo: Column, hi: Column) -> Column:
    # Type-7 linear interpolation, floating-point-associated EXACTLY like
    # DuckDB's quantile_cont (Interpolator in quantile.cpp): rank
    # RN = q*(n-1), and when RN is fractional the result is
    # lo*(1-frac) + hi*frac (CastInterpolation::Interpolate), NOT the
    # algebraically-equal lo + (hi-lo)*frac. The two associations differ
    # by up to 1 ulp, which is enough to flip a downstream round(x, 6)
    # at a half-way boundary — the r02 rollup_sliding_5m hash flake.
    # Matching the association makes Spark/DuckDB bit-identical on
    # identical values at any parallelism, whichever way (sorted array
    # or window ranks) the two order statistics were picked.
    return (
        F.when(n == 0, None)
        .when(frac == 0.0, lo)  # DuckDB returns v[FRN] directly when CRN==FRN
        .otherwise(lo * (F.lit(1.0) - frac) + hi * frac)
    )


def _interp_sorted(arr: Column, p: float) -> Column:
    n = F.size(arr)
    if p <= 0.0:
        return F.element_at(arr, 1).cast("double")
    if p >= 1.0:
        return F.element_at(arr, n).cast("double")
    lo_k, hi_k, frac = type7_ranks(n, p)
    return type7_interp(n, frac, F.element_at(arr, lo_k).cast("double"),
                        F.element_at(arr, hi_k).cast("double"))


def _quantile_name(q: float) -> str:
    # reference names multi-quantile outputs "q{}".format(q)
    return "q{}".format(q)


def _hist_names(bins: list) -> list[str]:
    # reference: "[{b_i}, {b_i+1})" with ']' on the last bin
    return [
        "[{}, {}{}".format(bins[i], bins[i + 1], ")" if i < len(bins) - 2 else "]")
        for i in range(len(bins) - 1)
    ]


def agg_exprs(
    value_col: str,
    win: WindowSpec,
    agg: str,
    agg_params: dict | None,
    min_periods: int | None,
    default_min_periods: int,
    arr: Column | None = None,
) -> "dict[str | None, Column]":
    """Columns for one (frame, agg) pair, min_periods-gated.

    Returns {suffix: column}; suffix None means scalar output (single
    column), otherwise one column per suffix (multi-output aggs).

    ``arr``: a materialized `sorted_frame_arr` attribute for this frame.
    When given, quantile kernels index into it and the min_periods gate
    uses its size (== count of non-null frame values) — one frame
    buffer per row instead of one per expression reference.
    """
    v = F.col(value_col)
    params = agg_params or {}
    cnt = F.size(arr).cast("long") if arr is not None else F.count(v).over(win)
    mp = min_periods if min_periods is not None else default_min_periods
    gate = cnt >= mp

    def g(c: Column) -> Column:
        return F.when(gate, c).otherwise(None).cast("double")

    def q(p: float) -> Column:
        if arr is not None:
            return _interp_sorted(arr, p)
        return exact_quantile_over(v, win, p)

    if agg == "mean":
        return {None: g(F.avg(v).over(win))}
    if agg == "sum":
        return {None: g(F.sum(v).over(win))}
    if agg == "min":
        return {None: g(F.min(v).over(win))}
    if agg == "max":
        return {None: g(F.max(v).over(win))}
    if agg == "median":
        return {None: g(q(0.5))}
    if agg == "std":
        return {None: g(F.stddev_samp(v).over(win))}
    if agg == "var":
        return {None: g(F.var_samp(v).over(win))}
    if agg == "count":
        return {None: g(cnt)}
    if agg == "skew":
        # pandas rolling.skew is the sample-adjusted G1 statistic;
        # Spark `skewness` is population g1 = m3/m2^1.5.
        # G1 = g1 * sqrt(n*(n-1))/(n-2); 0 when variance is 0; NULL n<3.
        n = cnt.cast("double")
        g1 = F.skewness(v).over(win)
        var0 = F.var_samp(v).over(win) == 0
        corrected = g1 * F.sqrt(n * (n - 1)) / (n - 2)
        expr = (
            F.when(cnt < 3, F.lit(None))
            .when(var0, F.lit(0.0))
            .otherwise(corrected)
        )
        return {None: g(expr)}
    if agg == "kurt":
        # pandas rolling.kurt is sample excess kurtosis G2;
        # Spark `kurtosis` is population excess g2 = m4/m2^2 - 3.
        # G2 = ((n+1)*g2 + 6) * (n-1)/((n-2)*(n-3)); NULL n<4.
        n = cnt.cast("double")
        g2 = F.kurtosis(v).over(win)
        var0 = F.var_samp(v).over(win) == 0
        corrected = ((n + 1) * g2 + 6) * (n - 1) / ((n - 2) * (n - 3))
        expr = (
            F.when(cnt < 4, F.lit(None))
            .when(var0, F.lit(0.0))
            .otherwise(corrected)
        )
        return {None: g(expr)}
    if agg == "nnz":
        # reference uses np.count_nonzero, which counts NaN as nonzero
        # (_transformer_1d.py:289; golden tests/test_transformer1d.py:115-126)
        nrows = F.count(F.lit(1)).over(win)
        zeros = F.count(F.when(v == 0, 1)).over(win)
        return {None: g(nrows - zeros)}
    if agg == "nunique":
        # len(np.unique(x.dropna())): collect_list drops NULLs
        return {None: g(F.size(F.array_distinct(F.collect_list(v).over(win))))}
    if agg == "iqr":
        return {None: g(q(0.75) - q(0.25))}
    if agg == "idr":
        return {None: g(q(0.9) - q(0.1))}
    if agg == "quantile":
        qs = params["q"]
        if hasattr(qs, "__iter__"):
            return {_quantile_name(p): g(q(p)) for p in qs}
        return {None: g(q(qs))}
    if agg == "hist":
        bins = params["bins"]
        if isinstance(bins, int):
            raise ValueError(
                "hist with integer bins needs the whole-series range; "
                "rolling_agg derives it automatically (one min/max "
                "fit-action), or pass explicit edges from "
                "operators.transformers.hist_bins(df, n) (reference: "
                "_transformer_1d.py:306-309)"
            )
        out = {}
        for i, name in enumerate(_hist_names(list(bins))):
            lo, hi = bins[i], bins[i + 1]
            pred = (v >= lo) & (v < hi) if i < len(bins) - 2 else (v >= lo) & (v <= hi)
            out[name] = g(F.count(F.when(pred, 1)).over(win))
        return out
    raise ValueError(f"unsupported agg: {agg!r}")


def rolling_agg(
    df: DataFrame,
    window: int | str,
    agg: str | Callable = "mean",
    agg_params: dict | None = None,
    center: bool = False,
    min_periods: int | None = None,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    out_col: str | None = None,
    closed: str | None = None,
) -> DataFrame:
    """RollingAggregate: one sliding window, one aggregate, min_periods gate.

    Parity target: ``RollingAggregate._predict_core``
    (/root/reference/src/adtk/transformer/_transformer_1d.py:215-344).
    Multi-output aggs (quantile list, hist) emit ``{out_col}_{suffix}``
    columns; scalar aggs emit ``out_col`` (default ``{value_col}_roll``).
    """
    if callable(agg):
        from .rolling_udf import rolling_agg_callable

        return rolling_agg_callable(
            df, window, agg, agg_params, center, min_periods,
            source_col=source_col, ts_col=ts_col, value_col=value_col,
            out_col=out_col or f"{value_col}_roll",
        )
    if (agg == "hist" and agg_params
            and isinstance(agg_params.get("bins"), int)):
        # reference semantics: integer bins means equal-width edges over
        # the WHOLE series range (_transformer_1d.py:306-309) — a small
        # fit-action (one min/max aggregation) before the lazy window
        # plan, mirroring the other fit-then-predict operators
        from ..operators.transformers import hist_bins

        agg_params = dict(agg_params)
        agg_params["bins"] = hist_bins(
            df, agg_params["bins"], value_col=value_col)
    kind, size = parse_window(window)
    lo, hi = _bounds(kind, size, center, closed)
    df = one_partition_if_small(df)
    default_mp = size if kind == ROWS else 1
    if agg in QUANTILE_AGGS:
        # quantile kernels read only the sorted frame array
        qarr = sorted_frame_arr(value_col, _over(source_col, ts_col, kind, lo, hi))
        src, win, arr = df.selectExpr("*", f"{qarr} AS _qarr"), None, F.col("_qarr")
        keep = df.columns
    else:
        src, win, arr = df, _frame(_ordered(source_col, ts_col), kind, lo, hi), None
        keep = ["*"]
    exprs = agg_exprs(value_col, win, agg, agg_params, min_periods, default_mp,
                      arr=arr)
    base = out_col or f"{value_col}_roll"
    cols = [c.alias(base if sfx is None else f"{base}_{sfx}") for sfx, c in exprs.items()]
    return src.select(*keep, *cols)


def _double_frames(
    window, center: bool
) -> tuple[tuple[str, int, int, int, int], tuple[str, int, int, int, int]]:
    """(kind, lo, hi, size, default_mp) for left and right windows.

    Mirrors the shift / reversed-series tricks of
    DoubleRollingAggregate._predict_core (_transformer_1d.py:503-598)
    as native window frames.
    """
    wl, wr = window if isinstance(window, tuple) else (window, window)
    kl, sl = parse_window(wl)
    kr, sr = parse_window(wr)
    if center:
        left = (kl, -sl, -1, sl, sl if kl == ROWS else 1)
        if kr == ROWS:
            right = (kr, 0, sr - 1, sr, sr)
        else:
            right = (kr, 0, sr - 1, sr, 1)
    else:
        # mixed-kind center=False pairs don't reduce to two frames over
        # the same row ordering; double_rolling_sides routes them to
        # _mixed_sides before calling here
        if kr == ROWS:
            right = (kr, -(sr - 1), 0, sr, sr)
            assert kl == ROWS
            left = (kl, -(sr + sl - 1), -sr, sl, sl)
        else:
            right = (kr, -sr + 1, 0, sr, 1)
            assert kl != ROWS
            left = (kl, -(sr + sl) + 1, -sr, sl, 1)
    return left, right


def _callable_diff(fn: Callable, left: Column, right: Column) -> Column:
    """diff=callable parity (_transformer_1d.py:617-626): the reference
    calls diff(left_i, right_i) per row; here the per-row Python calls
    run inside one Arrow-batched pandas UDF (columnar transfer, no
    row-at-a-time serialization)."""

    @F.pandas_udf("double")
    def _d(ls: pd.Series, rs: pd.Series) -> pd.Series:
        return pd.Series([fn(a, b) for a, b in zip(ls, rs)],
                         index=ls.index, dtype="float64")

    return _d(left, right)


def double_rolling_sides(df: DataFrame, window, agg="mean", agg_params=None,
                         center: bool = True, min_periods=None, *,
                         source_col="source", ts_col="ts", value_col="value") -> DataFrame:
    """``df``'s columns plus the left and right window aggregates of
    ``double_rolling_agg`` (same arguments) as plain columns: ``_l`` /
    ``_r``, or ``_l_<sfx>`` / ``_r_<sfx>`` per output of multi-output
    aggs. The one two-window builder: ``double_rolling_agg`` and the
    shift detectors only combine these columns, so each side is one
    window evaluation however often the combination references it
    (WindowExec does not dedupe identical window expressions)."""
    aggs = agg if isinstance(agg, tuple) else (agg, agg)
    aps = agg_params if isinstance(agg_params, tuple) else (agg_params, agg_params)
    mps = min_periods if isinstance(min_periods, tuple) else (min_periods, min_periods)
    wl, wr = window if isinstance(window, tuple) else (window, window)
    df = one_partition_if_small(df)
    if not center and parse_window(wl)[0] != parse_window(wr)[0]:
        return _mixed_sides(df, wl, wr, aggs, aps, mps, source_col, ts_col, value_col)
    extra, cols, ordered = [], [], None
    for tag, agg_, ap, mp, (kind, lo, hi, _size, default_mp) in zip(
            "lr", aggs, aps, mps, _double_frames(window, center)):
        win = arr = None
        if agg_ in QUANTILE_AGGS:
            # quantile kernels read only the sorted frame array
            if kind == ROWS and lo == hi == 0:
                arr = single_row_arr(value_col)
            else:
                qarr = sorted_frame_arr(value_col, _over(source_col, ts_col, kind, lo, hi))
                extra.append(f"{qarr} AS _qarr_{tag}")
                arr = F.col(f"_qarr_{tag}")
        else:
            ordered = ordered or _ordered(source_col, ts_col)
            win = _frame(ordered, kind, lo, hi)
        exprs = agg_exprs(value_col, win, agg_, ap, mp, default_mp, arr=arr)
        cols += [c.alias(f"_{tag}" if sfx is None else f"_{tag}_{sfx}")
                 for sfx, c in exprs.items()]
    if not extra:
        return df.select("*", *cols)
    return df.selectExpr("*", *extra).select(*df.columns, *cols)


def _mixed_sides(
    df: DataFrame, wl, wr, aggs, aps, mps,
    source_col: str, ts_col: str, value_col: str,
) -> DataFrame:
    """``double_rolling_sides`` for center=False and MIXED window kinds
    (one int, one time), mirroring the reference's shift tricks
    (_transformer_1d.py:558-598):

    - int right (sr rows): left = time-rolling over the series shifted
      by sr rows -> aggregate ``lag(value, sr)`` over the time frame.
    - time right (Dr): left = int-rolling over the series re-indexed to
      ts+Dr unioned with the original index (NULL there, shifted value
      winning ts collisions), evaluated at the original index -> build
      that union frame, roll, join back on (source, ts).
    """
    kr, sr = parse_window(wr)
    right = rolling_agg(df, wr, aggs[1], aps[1], center=False,
                        min_periods=mps[1], source_col=source_col,
                        ts_col=ts_col, value_col=value_col, out_col="_r")
    if kr == ROWS:
        # time left over the sr-rows-shifted values: same row ordering,
        # no join — one extra lag column
        ow = Window.partitionBy(source_col).orderBy(
            F.unix_micros(F.col(ts_col).cast("timestamp")))
        shifted = right.withColumn("_vshift", F.lag(value_col, sr).over(ow))
        both = rolling_agg(shifted, wl, aggs[0], aps[0], center=False,
                           min_periods=mps[0], source_col=source_col,
                           ts_col=ts_col, value_col="_vshift", out_col="_l")
        return both.drop("_vshift")
    # int left over the union-index frame {ts + Dr} ∪ {ts}
    tsu = F.unix_micros(F.col(ts_col).cast("timestamp"))
    shifted = df.select(
        F.col(source_col), (tsu + F.lit(sr)).alias("_tsk"),
        F.col(value_col).cast("double").alias("_vu"), F.lit(0).alias("_pri"),
    )
    spine = df.select(
        F.col(source_col), tsu.alias("_tsk"),
        F.lit(None).cast("double").alias("_vu"), F.lit(1).alias("_pri"),
    )
    u = (shifted.unionByName(spine)
         .groupBy(source_col, "_tsk")
         .agg(F.min_by("_vu", "_pri").alias("_vu"))
         .withColumn("_tsu", F.timestamp_micros(F.col("_tsk"))))
    la = rolling_agg(u, wl, aggs[0], aps[0], center=False,
                     min_periods=mps[0], source_col=source_col,
                     ts_col="_tsu", value_col="_vu", out_col="_l")
    lsel = la.select(source_col, "_tsk", *la.columns[len(u.columns):])
    return (right.withColumn("_tsk", tsu)
            .join(lsel, [source_col, "_tsk"], "left")
            .drop("_tsk"))


def _side_cols(cols: list[str], tag: str) -> "dict[str | None, Column]":
    # {suffix: column} of one side among a ``double_rolling_sides`` frame's
    # added columns
    return {None if c == tag else c[len(tag) + 1:]: F.col(f"`{c}`")
            for c in cols if c == tag or c.startswith(tag + "_")}


def _diff_col(lexprs: dict, rexprs: dict, diff) -> Column:
    """Combine left/right aggregate expressions per the diff mode."""
    keys = list(lexprs)
    if len(keys) == 1 and keys[0] is None:
        l, r = lexprs[None], rexprs[None]
        if callable(diff):
            return _callable_diff(diff, l, r)
        if diff == "diff":
            return r - l
        if diff == "rel_diff":
            return (r - l) / l
        if diff == "abs_rel_diff":
            return F.abs(r - l) / l
        if diff == "l1":
            return F.abs(r - l)
        if diff == "l2":
            return F.sqrt((r - l) * (r - l))
        raise ValueError(f"unsupported diff: {diff!r}")
    if callable(diff):
        # reference parity (_transformer_1d.py:620-626): for DataFrame
        # rolling outputs the callable receives the per-row slice as a
        # pandas Series. Here the multi-output columns travel as one
        # array per side through an Arrow-batched UDF and are rebuilt
        # into Series indexed by the output names (e.g. 'q0.25').
        larr = F.array(*[lexprs[k] for k in keys])
        rarr = F.array(*[rexprs[k] for k in keys])

        @F.pandas_udf("double")
        def _d(ls: pd.Series, rs: pd.Series) -> pd.Series:
            out = []
            for lv, rv in zip(ls, rs):
                if lv is None or rv is None:
                    out.append(float("nan"))
                    continue
                # gated (min_periods) outputs arrive as NULL elements;
                # pandas rolling hands the callable NaNs there
                out.append(diff(
                    pd.Series(np.asarray(lv, dtype=float), index=keys),
                    pd.Series(np.asarray(rv, dtype=float), index=keys),
                ))
            return pd.Series(out, dtype="float64")

        return _d(larr, rarr)
    # vector output: elementwise combine, NULL-propagating (skipna=False)
    if diff == "l1":
        c = None
        for k in keys:
            term = F.abs(rexprs[k] - lexprs[k])
            c = term if c is None else c + term
        return c
    if diff == "l2":
        c = None
        for k in keys:
            term = (rexprs[k] - lexprs[k]) * (rexprs[k] - lexprs[k])
            c = term if c is None else c + term
        return F.sqrt(c)
    raise ValueError(f"diff {diff!r} not applicable to vector aggregates")


def double_rolling_agg(
    df: DataFrame,
    window,
    agg="mean",
    agg_params=None,
    center: bool = True,
    min_periods=None,
    diff: str | Callable = "l1",
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    out_col: str | None = None,
) -> DataFrame:
    """DoubleRollingAggregate: two adjacent windows, per-window agg, diff.

    Parity target: _transformer_1d.py:347-628. ``window``/``agg``/
    ``agg_params``/``min_periods`` accept 2-tuples (left, right).
    """
    lr = double_rolling_sides(df, window, agg, agg_params, center, min_periods,
                              source_col=source_col, ts_col=ts_col,
                              value_col=value_col)
    keep = df.columns
    added = [c for c in lr.columns if c not in keep]
    lcols, rcols = _side_cols(added, "_l"), _side_cols(added, "_r")
    if set(lcols) != set(rcols):
        raise ValueError("left/right aggs must produce matching outputs")
    c = _diff_col(lcols, rcols, diff)
    return lr.select(*keep, c.alias(out_col or f"{value_col}_droll"))
