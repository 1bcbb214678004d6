"""Gap-fill: time spine construction, forward-fill, linear interpolation.

The reference's only gap handling is ``asfreq`` inserting NaN rows
(validate_series, /root/reference/src/adtk/data/_data.py:76-78); the
north rule adds forward-fill and linear interpolation on top. All three
are built-in window tricks — no UDFs:

- spine: per-source ``sequence(min_ts, max_ts, interval)`` + explode +
  left join (missing points become NULL rows, adtk's asfreq semantics)
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

from adtk_spark.functions.windows import select_with, td_micros


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
    tier rollup); the spine spans [min(ts), max(ts)] per source.
    """
    secs = td_micros(freq) // 1_000_000
    bounds = df.groupBy(source_col).agg(
        F.min(ts_col).cast("timestamp").alias("_mn"),
        F.max(ts_col).cast("timestamp").alias("_mx"),
    )
    spine = bounds.select(
        source_col,
        F.explode(
            F.sequence("_mn", "_mx", F.expr(f"interval {secs} seconds"))
        ).alias(ts_col),
    )
    # join back values; spine is same order of size as df -> sort-merge
    # join on the grouping keys, no broadcast needed
    return spine.join(
        df.select(source_col, F.col(ts_col).cast("timestamp").alias(ts_col), value_col),
        on=[source_col, ts_col],
        how="left",
    )


def forward_fill(
    df: DataFrame,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    out_col: str = "value_ff",
) -> DataFrame:
    w = (
        Window.partitionBy(source_col)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(out_col, F.last(value_col, ignorenulls=True).over(w))


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
    value forward, leading NULLs stay NULL."""
    v = F.col(value_col)
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    # next anchor = the last non-NULL of a running frame over DESCENDING
    # ts: a growing frame is O(1) per row, where the equivalent
    # first(...) over rowsBetween(0, unboundedFollowing) re-aggregates
    # the shrinking tail on every row (O(n^2) per source)
    wp = Window.partitionBy(source_col).orderBy(ts_col).rowsBetween(Window.unboundedPreceding, 0)
    wn = (Window.partitionBy(source_col).orderBy(F.col(ts_col).desc())
          .rowsBetween(Window.unboundedPreceding, 0))
    vt = F.when(v.isNotNull(), t)
    # anchors projected once and referenced by name (WindowExec does not
    # dedupe the formula's repeated references); the descending frame
    # goes first so rows leave the ascending one in (source, ts) order
    anchored = (
        df.select("*", F.last(v, ignorenulls=True).over(wn).alias("_nv"),
                  F.last(vt, ignorenulls=True).over(wn).alias("_nt"))
        .select("*", F.last(v, ignorenulls=True).over(wp).alias("_pv"),
                F.last(vt, ignorenulls=True).over(wp).alias("_pt"))
    )
    pv, pt, nv, nt = (F.col(k) for k in ("_pv", "_pt", "_nv", "_nt"))
    lerp = (
        F.when(v.isNotNull(), v)
        .when(
            pv.isNotNull() & nv.isNotNull() & (nt != pt),
            pv + (nv - pv) * (t - pt) / (nt - pt),
        )
        .when(pv.isNotNull(), pv)
    )
    return anchored.select(*select_with(df.columns, out_col, lerp))


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
            # DECIMAL-quantized exact sum: the per-bucket increase (and
            # every threshold decision on it) is bit-identical at any
            # parallelism — same device as the tier sums / LM scorer
            F.sum(F.round(F.col("_inc"), 9).cast("decimal(38,9)"))
            .cast("double").alias("increase"))
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

    Plan: spine anti-join (left join + IS NULL on an already
    bucket-aligned series) then gaps-and-islands on the missing rows —
    everything rides the per-source spine, never the raw row count.
    Input timestamps must be bucket-aligned (tier output).
    """
    secs = td_micros(freq) // 1_000_000
    bounds = df.groupBy(source_col).agg(
        F.min(ts_col).cast("timestamp").alias("_mn"),
        F.max(ts_col).cast("timestamp").alias("_mx"),
    )
    spine = bounds.select(
        source_col,
        F.explode(
            F.sequence("_mn", "_mx", F.expr(f"interval {secs} seconds"))
        ).alias(ts_col),
    )
    observed = df.select(source_col, F.col(ts_col).cast("timestamp").alias(ts_col)).distinct()
    missing = spine.join(observed, [source_col, ts_col], "left_anti")
    w = Window.partitionBy(source_col).orderBy(ts_col)
    # gaps-and-islands: consecutive missing buckets share (ts - rn*freq)
    grp = (
        F.unix_micros(F.col(ts_col))
        - F.row_number().over(w).cast("long") * F.lit(secs * 1_000_000)
    )
    return (
        missing.withColumn("_g", grp)
        .groupBy(source_col, "_g")
        .agg(
            F.min(ts_col).alias("gap_start"),
            F.max(ts_col).alias("gap_end"),
            F.count("*").alias("n_missing"),
        )
        .drop("_g")
    )
