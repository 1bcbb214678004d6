"""Gap-fill: time spine construction, forward-fill, linear interpolation.

The reference's only gap handling is ``asfreq`` inserting NaN rows
(validate_series, /root/reference/src/adtk/data/_data.py:76-78); the
north rule adds forward-fill and linear interpolation on top. All three
are built-in window tricks — no UDFs:

- spine: one (source, ts) window for the next timestamp, then each row
  explodes into itself plus the missing buckets before it (missing
  points become NULL rows, adtk's asfreq semantics); no join
- ffill: ``last(value, ignorenulls=True)`` over an unbounded-preceding
  frame
- lerp: ffill'ed (value, ts) + backfilled next anchors, both running
  ``last(..., ignorenulls=True)`` frames (the backward one over
  descending ts, so every frame is O(n) per source), then the
  interpolation formula; trailing NULLs take the last value and leading
  NULLs stay NULL (pandas Series.interpolate parity)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from adtk_spark.functions.exact import exact_sum
from adtk_spark.functions.windows import quoted, select_with, td_micros
from adtk_spark.session import one_partition_if_small


def _with_next(df: DataFrame, source_col: str, ts_col: str, *cols: str) -> DataFrame:
    """``df``'s source, timestamp (cast to ``timestamp``) and ``cols``,
    plus ``_next``, the source's next timestamp (NULL on its last row):
    the one (source, ts) window the spine and the gap report share.
    NULL timestamps sort first, so no other row sees one as ``_next``.
    Built from SQL strings: as Column and WindowSpec calls, this one
    projection took 42 py4j round trips and the whole spine 113; as
    strings the spine takes 16. A small input runs as one partition
    (``one_partition_if_small``), so the window and the fills and
    interpolation over its output plan no Exchange."""
    s, t = quoted(source_col), f"CAST({quoted(ts_col)} AS TIMESTAMP)"
    return one_partition_if_small(df).selectExpr(
        s, f"{t} AS {quoted(ts_col)}", *map(quoted, cols),
        f"lead({t}) OVER (PARTITION BY {s} ORDER BY {t}) AS _next")


#: a running frame: every row from the partition's first up to this one
_RUNNING = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


def _step(freq: str) -> str:
    micros = td_micros(freq)
    if micros <= 0 or micros % 1_000_000:
        raise ValueError(f"freq must be a positive whole number of seconds, got {freq!r}")
    return f"INTERVAL {micros // 1_000_000} SECONDS"


def time_spine(
    df: DataFrame,
    freq: str,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Regularize each source onto a fixed-interval spine.

    Input timestamps must already be bucket-aligned (e.g. the output of a
    tier rollup); the spine spans [min(ts), max(ts)] per source. Each row
    expands to ``sequence(ts, next - step, step)``: itself plus the
    missing buckets before the source's next timestamp. ``arrays_zip``
    pads the one-element value array with NULLs, so the value stays at
    position 0 only. ``greatest`` skips a NULL next, so the last row and
    each duplicate of a (source, ts) pair expand to themselves alone.
    Rows with a NULL timestamp are dropped (their sequence is NULL and
    yields no row).
    """
    step, t, v = _step(freq), quoted(ts_col), quoted(value_col)
    seq = f"sequence({t}, greatest({t}, _next - {step}), {step})"
    return _with_next(df, source_col, ts_col, value_col).selectExpr(
        quoted(source_col), f"inline(arrays_zip({seq}, array({v}))) AS ({t}, {v})")


def forward_fill(
    df: DataFrame,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    out_col: str = "value_ff",
) -> DataFrame:
    """Each row's last non-NULL value up to it (its own included), per
    source in ts order. One projection from a SQL string: its
    WindowSpec, ``F.last`` and ``withColumn`` took 29 py4j round trips,
    the string takes 11."""
    ff = (f"last({quoted(value_col)}, true) OVER (PARTITION BY {quoted(source_col)} "
          f"ORDER BY {quoted(ts_col)} {_RUNNING})")
    return df.selectExpr(*select_with(df.columns, out_col, ff))


def interpolate_linear(
    df: DataFrame,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    out_col: str = "value_lerp",
) -> DataFrame:
    """pandas ``Series.interpolate('linear')`` parity: interior NULLs get
    the time-weighted line between anchors, trailing NULLs carry the last
    value forward, leading NULLs stay NULL. Built from SQL strings (35
    py4j round trips; as Column and WindowSpec calls, 150)."""
    s, ts, v = quoted(source_col), quoted(ts_col), quoted(value_col)
    t = f"unix_micros(CAST({ts} AS TIMESTAMP))"
    # next anchor = the last non-NULL of a running frame over DESCENDING
    # ts: a growing frame is O(1) per row, where the equivalent
    # first(...) over rowsBetween(0, unboundedFollowing) re-aggregates
    # the shrinking tail on every row (O(n^2) per source)
    wp = f"OVER (PARTITION BY {s} ORDER BY {ts} {_RUNNING})"
    wn = f"OVER (PARTITION BY {s} ORDER BY {ts} DESC {_RUNNING})"
    vt = f"CASE WHEN {v} IS NOT NULL THEN {t} END"
    # anchors projected once and referenced by name (WindowExec does not
    # dedupe the formula's repeated references); the descending frame
    # goes first so rows leave the ascending one in (source, ts) order
    anchored = (
        df.selectExpr("*", f"last({v}, true) {wn} AS _nv", f"last({vt}, true) {wn} AS _nt")
        .selectExpr("*", f"last({v}, true) {wp} AS _pv", f"last({vt}, true) {wp} AS _pt")
    )
    lerp = (f"CASE WHEN {v} IS NOT NULL THEN {v} "
            "WHEN _pv IS NOT NULL AND _nv IS NOT NULL AND _nt != _pt "
            f"THEN _pv + (_nv - _pv) * ({t} - _pt) / (_nt - _pt) "
            "WHEN _pv IS NOT NULL THEN _pv END")
    return anchored.selectExpr(*select_with(df.columns, out_col, lerp))


def counter_rate(
    df,
    tier: str = "1m",
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
):
    """Counter-reset-aware per-bucket rate (the monitoring-stack
    ``rate()`` semantic): treat ``value`` as a monotonically increasing
    counter that occasionally resets to ~0 (process restart); the
    per-sample increase is ``value - lag(value)`` normally and just
    ``value`` across a reset (``value < lag(value)`` — the counter
    restarted, so everything since the reset counts). Output per
    (source, bucket): ``increase`` (sum of increases with first-sample
    NULL dropped) and ``rate`` = increase / bucket width in seconds.

    Plan: one (source, ts) window pass for the lag (the exchange every
    windowed operator shares) + one algebraic groupBy on the bucket —
    no self-join.

    The rate divisor is each bucket's ACTUAL width — the epoch delta to
    the next calendar-interval bucket — not a fixed constant: with a
    non-UTC session timezone, date_trunc('day') buckets around DST
    transitions are 23/25 h wide, and dividing by a fixed 86400 would
    misstate the per-second rate on those days (r03 ADVICE). Under UTC
    the expression constant-folds to the familiar 60/3600/86400.
    """
    from .tiers import TIER_STEPS, tier_bucket

    shift = TIER_STEPS[tier]
    w = Window.partitionBy(source_col).orderBy(ts_col)
    v = F.col(value_col)
    prev = F.lag(v).over(w)
    inc = F.when(prev.isNull(), F.lit(None)).otherwise(
        F.when(v < prev, v).otherwise(v - prev))
    return (
        df.select(source_col, ts_col, inc.alias("_inc"))
        .groupBy(source_col, tier_bucket(F.col(ts_col), tier))
        .agg(
            # exact sum: the per-bucket increase (and every threshold
            # decision on it) is bit-identical at any parallelism
            exact_sum(F.col("_inc")).alias("increase"))
        .withColumn(
            "_width",
            (F.unix_timestamp(F.col("bucket_ts") + F.expr(shift))
             - F.unix_timestamp("bucket_ts")).cast("double"))
        .withColumn("rate", F.col("increase") / F.col("_width"))
        .drop("_width")
    )


def gap_report(
    df: DataFrame,
    freq: str,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
) -> DataFrame:
    """Missing-bucket report: per source, the maximal runs of absent
    spine buckets between the first and last observed timestamp — the
    ingest-monitoring view ("source X lost minutes 14:03-14:17"). One
    row per gap with (gap_start, gap_end, n_missing).

    Plan: the spine's (source, ts) window: a gap follows every row
    whose next timestamp is more than one step later (a NULL timestamp
    has a NULL span and is never one). Input timestamps must be
    bucket-aligned (tier output).
    """
    step_us, step, t = td_micros(freq), _step(freq), quoted(ts_col)
    span = f"unix_micros(_next) - unix_micros({t})"
    return (
        _with_next(df, source_col, ts_col)
        .where(f"{span} > {step_us}")
        .selectExpr(quoted(source_col), f"{t} + {step} AS gap_start", f"_next - {step} AS gap_end",
                    f"({span}) DIV {step_us} - 1 AS n_missing")
    )
