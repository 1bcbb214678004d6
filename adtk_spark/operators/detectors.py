"""Rule-based detectors: fit = aggregation action, detect = lazy projection.

Parity targets live in /root/reference/src/adtk/detector/_detector_1d.py
(cited per function). Binary anomaly labels follow the reference's
{0, 1, NaN} convention as nullable doubles: NULL marks "undecidable"
(NULL input or an unfilled min_periods window).

The reference's per-model Python state (``abs_low_`` / ``abs_high_``)
becomes a small per-source *bounds table* broadcast-joined back onto the
series — that is the whole fit/predict split at cluster scale: fit runs
one shuffle-light groupBy over training data, predict stays a pure
column expression. Fitting and labelling the same series
(``quantile_ad``, ``iqr_ad``) needs no table: the exact per-source
quantiles are window columns over the series' own source partitioning
(``_source_quantiles``): one Exchange, no broadcast job.

adtk's tri-state AND/OR label algebra (aggregator/_aggregator.py:124-126,
209-212) is exactly SQL three-valued logic, so compound detectors use
plain boolean ``&``/``|`` on nullable booleans.

The compound detectors label with one rule, ``_compound_label``: the IQR
rule on a magnitude AND a sign rule on the signed diff. Their
fit_detect wrappers (``persist_ad``, ``level_shift_ad``,
``volatility_shift_ad``, ``seasonal_ad`` and ``hd``'s ``regression_ad`` /
``pca_ad``) do not broadcast-join: they build the feature frame once and
fit the IQR bounds with the same window quantiles
(``_compound_fit_detect``). The ``*_fit`` / ``*_detect`` pairs keep the
bounds table for train/test splits and the streaming detectors.

Every builder here ends in one projection (``select_with``): each
Dataset step re-runs the analyzer over the whole plan on the driver,
which at tier scale costs more than the rows.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import exact_sum
from ..session import one_partition_if_small
from ..functions.windows import (
    double_rolling_sides,
    exact_quantile_agg,
    quoted,
    rolling_agg,
    select_with,
    type7_interp,
    type7_ranks,
)

INF = float("inf")


# ---------------------------------------------------------------------------
# threshold rule kernel
# ---------------------------------------------------------------------------

def threshold_label(value: Column, low: Column | float | None, high: Column | float | None) -> Column:
    """(v > high) | (v < low), NULL-in -> NULL-out.

    Parity: ThresholdAD._predict_core (_detector_1d.py:137-142). None
    bounds become +/-inf exactly as the reference does, which makes the
    degenerate side='both' sign check (high=-inf) flag every non-NULL row.
    """
    # plain floats become literals JVM-side: no extra round trips
    lo = -INF if low is None else (float(low) if isinstance(low, (int, float)) else low)
    hi = INF if high is None else (float(high) if isinstance(high, (int, float)) else high)
    flag = (value > hi) | (value < lo)
    return F.when(value.isNull(), None).otherwise(flag)


def _as_double(label: Column) -> Column:
    return label.cast("double")


def threshold_ad(
    df: DataFrame,
    low: float | None = None,
    high: float | None = None,
    *,
    value_col: str = "value",
    out_col: str = "label",
) -> DataFrame:
    """ThresholdAD (_detector_1d.py:108-142): stateless projection."""
    return df.select(
        "*", _as_double(threshold_label(F.col(value_col), low, high)).alias(out_col)
    )


# ---------------------------------------------------------------------------
# trainable bounds rules (QuantileAD / InterQuartileRangeAD)
# ---------------------------------------------------------------------------

def _check_levels(levels) -> None:
    """Quantile levels must lie in [0, 1], as numpy's percentile
    requires (adtk's QuantileAD fits with it)."""
    bad = [p for p in levels if not 0.0 <= float(p) <= 1.0]
    if bad:
        raise ValueError(f"quantile levels must lie in [0, 1], got {bad}")


def quantile_ad_fit(
    train: DataFrame,
    low: float | None = None,
    high: float | None = None,
    *,
    source_col: str = "source",
    value_col: str = "value",
) -> DataFrame:
    """QuantileAD._fit_core (_detector_1d.py:183-193): per-source exact
    quantile bounds — exact type-7 linear interpolation (NOT
    approx_percentile; point-parity requires exact).
    Result is a tiny (n_sources x 3) model table.
    """
    _check_levels([p for p in (low, high) if p is not None])
    v = F.col(value_col)
    return train.groupBy(source_col).agg(
        (exact_quantile_agg(v, float(low)) if low is not None else F.lit(-INF)).alias("abs_low"),
        (exact_quantile_agg(v, float(high)) if high is not None else F.lit(INF)).alias("abs_high"),
        F.count(v).alias("_n_valid"),
    )


def iqr_ad_fit(
    train: DataFrame,
    c=3.0,
    *,
    source_col: str = "source",
    value_col: str = "value",
) -> DataFrame:
    """InterQuartileRangeAD._fit_core (_detector_1d.py:240-266).

    ``c`` may be a scalar or a (c_low, c_high) tuple; None factors mean
    an unbounded side.
    """
    v = F.col(value_col)
    lo, hi = _iqr_bounds(exact_quantile_agg(v, 0.25), exact_quantile_agg(v, 0.75), c)
    return train.groupBy(source_col).agg(
        lo.alias("abs_low"), hi.alias("abs_high"), F.count(v).alias("_n_valid")
    )


def _iqr_bounds(q1: Column, q3: Column, c) -> tuple[Column, Column]:
    """(abs_low, abs_high) of the IQR rule from Q1/Q3 — shared by the
    groupBy fit and the fit-once window core so both do the same
    arithmetic."""
    c_lo, c_hi = c if isinstance(c, tuple) else (c, c)
    iqr = q3 - q1
    lo = (q1 - iqr * float(c_lo)) if c_lo is not None else F.lit(-INF)
    hi = (q3 + iqr * float(c_hi)) if c_hi is not None else F.lit(INF)
    return lo, hi


#: the bounds table's columns, dropped once a label is made
_BOUNDS = ("abs_low", "abs_high", "_n_valid")


def apply_bounds(
    df: DataFrame,
    bounds: DataFrame,
    *,
    source_col: str = "source",
    value_col: str = "value",
    out_col: str = "label",
    keep_bounds: bool = False,
    broadcast: bool = True,
) -> DataFrame:
    """Join the per-source bounds table and apply the threshold rule.

    The bounds side is O(n_sources) rows — broadcastable up to ~10^7
    sources, so the predict pass never shuffles the big series table.
    Past that (10^8+ sources the driver can't hold), pass
    ``broadcast=False`` to let AQE pick a shuffle join; if the series
    side is already hash-partitioned on ``source`` (bucketed tier
    reads), that join is Exchange-free on the big side.
    """
    model = F.broadcast(bounds) if broadcast else bounds
    joined = df.join(model, on=source_col, how="left")
    label = threshold_label(F.col(quoted(value_col)), F.col("abs_low"), F.col("abs_high"))
    drop = () if keep_bounds else _BOUNDS
    return joined.select(*select_with(joined.columns, out_col, _as_double(label), drop))


def _source_quantiles(d: DataFrame, col: str, levels, *,
                      source_col: str) -> tuple[DataFrame, list[Column]]:
    """Exact per-source type-7 quantiles of ``col`` at ``levels`` as
    window columns over ``d``'s source partitioning: the fit of
    ``quantile_ad``, ``iqr_ad`` and the compound detectors, with no
    groupBy, join or broadcast job.

    ``count`` and ``row_number`` ordered by ``col`` (nulls last), then
    each level's two order statistics picked as unbounded
    ``max(when(rank == k, col))``. Returns ``d`` with those helper
    columns and one quantile Column per level, built over the helpers:
    evaluate them in the next projection. Equal, value for value, to
    ``exact_quantile_agg`` (NaN sorts last there too; a level <= 0 or
    >= 1 picks the minimum or maximum; a source with no value gets
    NULL).
    """
    if not levels:
        return d, []
    v = F.col(quoted(col))
    by_v = Window.partitionBy(source_col).orderBy(v.asc_nulls_last())
    whole = by_v.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # the rank columns as SQL: a string costs one py4j round trip
    by_v_sql = f"PARTITION BY {quoted(source_col)} ORDER BY {quoted(col)} ASC NULLS LAST"
    ranked = d.selectExpr(
        "*", f"count({quoted(col)}) OVER ({by_v_sql} ROWS BETWEEN UNBOUNDED PRECEDING "
        "AND UNBOUNDED FOLLOWING) AS _n", f"row_number() OVER ({by_v_sql}) AS _rk")
    n, rk = F.col("_n"), F.col("_rk")
    picks, qs = [], []
    for j, p in enumerate(levels):
        lo_k, hi_k, frac = type7_ranks(n, min(max(float(p), 0.0), 1.0))
        picks += [F.max(F.when(rk == lo_k, v)).over(whole).alias(f"_lo{j}"),
                  F.max(F.when(rk == hi_k, v)).over(whole).alias(f"_hi{j}")]
        qs.append(type7_interp(n, frac, F.col(f"_lo{j}"), F.col(f"_hi{j}")))
    return ranked.select("*", *picks), qs


def _window_bounds_label(d: DataFrame, cols: list[str], lo: Column, hi: Column,
                         *, source_col: str, value_col: str, out_col: str) -> DataFrame:
    """Threshold ``value_col`` of a ``_source_quantiles`` frame against
    bounds built over its helper columns, in one projection with the
    join's column order: ``source_col``, ``cols``' others, ``out_col``.
    NULL-source rows get NULL bounds, as the left join gives them."""
    known = F.col(source_col).isNotNull()
    label = threshold_label(F.col(quoted(value_col)), F.when(known, lo), F.when(known, hi))
    keep = [source_col] + [c for c in cols if c != source_col]
    return d.select(*select_with(keep, out_col, _as_double(label)))


def quantile_ad(df: DataFrame, low: float | None = None, high: float | None = None, *,
                source_col: str = "source", value_col: str = "value",
                out_col: str = "label") -> DataFrame:
    """QuantileAD fit_detect on one series: the ``quantile_ad_fit``
    bounds as window quantiles (``_source_quantiles``), labelled as
    ``apply_bounds`` labels — one Exchange, no join, no broadcast job.
    Rows leave each partition in value order."""
    levels = [p for p in (low, high) if p is not None]
    _check_levels(levels)
    df = one_partition_if_small(df)
    d, qs = _source_quantiles(df, value_col, levels, source_col=source_col)
    lo = qs.pop(0) if low is not None else F.lit(-INF)
    hi = qs.pop(0) if high is not None else F.lit(INF)
    return _window_bounds_label(d, df.columns, lo, hi, source_col=source_col,
                                value_col=value_col, out_col=out_col)


def iqr_ad(df: DataFrame, c=3.0, *, source_col: str = "source",
           value_col: str = "value", out_col: str = "label") -> DataFrame:
    """InterQuartileRangeAD fit_detect on one series: ``iqr_ad_fit``'s
    bounds from window quartiles, labelled in the same plan (see
    ``quantile_ad``)."""
    df = one_partition_if_small(df)
    d, (q1, q3) = _source_quantiles(df, value_col, (0.25, 0.75), source_col=source_col)
    lo, hi = _iqr_bounds(q1, q3, c)
    return _window_bounds_label(d, df.columns, lo, hi, source_col=source_col,
                                value_col=value_col, out_col=out_col)


# ---------------------------------------------------------------------------
# Robust z-score (median / MAD) detector
# ---------------------------------------------------------------------------

def robust_zscore_ad_fit(
    train: DataFrame,
    *,
    source_col: str = "source",
    value_col: str = "value",
) -> DataFrame:
    """Median + MAD per source (Iglewicz & Hoaglin's robust outlier
    rule — the breakdown-point-0.5 sibling of adtk's quantile rules;
    mean/std-based rules are themselves dragged by the outliers they
    hunt). Two exact-quantile passes (median, then median absolute
    deviation) with the engine's DuckDB-exact type-7 interpolation;
    the intermediate median joins back as a broadcast.
    """
    v = F.col(value_col)
    med = train.groupBy(source_col).agg(
        exact_quantile_agg(v, 0.5).alias("med"), F.count(v).alias("_n_valid")
    )
    j = train.join(F.broadcast(med), source_col)
    return j.groupBy(source_col).agg(
        F.min("med").alias("med"),
        exact_quantile_agg(F.abs(v - F.col("med")), 0.5).alias("mad"),
        F.min("_n_valid").alias("_n_valid"),
    )


def robust_zscore_ad_detect(
    df: DataFrame,
    model: DataFrame,
    z: float = 3.5,
    *,
    source_col: str = "source",
    value_col: str = "value",
    out_col: str = "label",
) -> DataFrame:
    """label = |x - med| > z * (1.4826 * mad); NULL in -> NULL out.
    1.4826 is the normal-consistency constant (sigma estimate from
    MAD); the multiplication associates (z * (c * mad)) so a SQL
    replay with the same decimal literals is bit-identical. A zero MAD
    (>50% constant values) flags any deviation — the rule's
    documented breakdown behavior. The model join is LEFT so sources
    absent from the training table keep their rows with NULL label
    (matching apply_bounds semantics), instead of silently vanishing.
    """
    v = F.col(value_col)
    joined = df.join(F.broadcast(model), source_col, "left")
    thresh = F.lit(float(z)) * (F.lit(1.4826) * F.col("mad"))
    label = F.when(v.isNull() | F.col("mad").isNull(),
                   F.lit(None).cast("boolean")).otherwise(
        F.abs(v - F.col("med")) > thresh
    )
    return joined.select(
        *df.columns, _as_double(label).alias(out_col)
    )


def robust_zscore_ad(df, z: float = 3.5, **kw):
    """fit_detect convenience."""
    return robust_zscore_ad_detect(df, robust_zscore_ad_fit(df, **_fit_kw(kw)), z, **kw)


def _fit_kw(kw):
    return {k: v for k, v in kw.items() if k in ("source_col", "value_col")}


# ---------------------------------------------------------------------------
# CUSUM changepoint detector (Page 1954) — window-native form
# ---------------------------------------------------------------------------

def cusum_ad_fit(
    train: DataFrame,
    *,
    source_col: str = "source",
    value_col: str = "value",
) -> DataFrame:
    """Per-source reference statistics for CUSUM: mean and sample std
    from DECIMAL(38,9)-exact sums (order-independent, so mu/sigma are
    bit-identical at any parallelism — the engine's standing float
    policy). Tiny (n_sources x 3) model table.
    """
    v = F.col(value_col)
    m0 = train.groupBy(source_col).agg(
        exact_sum(v, quantize=False).alias("_s1"),
        exact_sum(v * v, quantize=False).alias("_s2"),
        F.count(v).alias("_n"),
    )
    mu = F.col("_s1") / F.col("_n")
    sigma = F.sqrt(
        F.greatest(
            (F.col("_s2") - mu * mu * F.col("_n")) / (F.col("_n") - 1), F.lit(0.0)
        )
    )
    return m0.select(
        source_col, mu.alias("mu"), sigma.alias("sigma"), F.col("_n").alias("_n_valid")
    )


def cusum_ad_detect(
    df: DataFrame,
    model: DataFrame,
    k_sigmas: float = 0.5,
    h_sigmas: float = 5.0,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    out_col: str = "label",
) -> DataFrame:
    """Two-sided CUSUM: the textbook recursion
    ``S+_t = max(0, S+_{t-1} + x_t - mu - k)`` looks inherently
    sequential, but has the closed form
    ``S+_t = P_t - min(0, min_{j<=t} P_j)`` over the prefix sums
    ``P_t = cumsum(x - mu - k)`` — i.e. one running SUM plus one
    running MIN window, fully distributed, no recursion, no UDF
    (S- symmetrically over ``mu - k - x``). Label = S+ or S- above
    ``h = h_sigmas * sigma``; NULL inputs yield NULL labels and are
    transparent to the cumsums (SUM/MIN skip NULLs on both engines;
    rows BEFORE the first valid value carry NULL sp/sm — the empty-SUM
    convention).

    Both cumulative windows share one (source, ts) Exchange+Sort; the
    per-row chain is evaluated in a fixed sequential order on both
    engines, so ``sp``/``sm`` are bit-identical to a SQL replay.
    The model join is LEFT (apply_bounds semantics): sources absent
    from the training table keep their rows with NULL sp/sm/label.
    """
    j = df.join(F.broadcast(model), source_col, "left")
    v = F.col(value_col)
    k = F.lit(float(k_sigmas)) * F.col("sigma")
    h = F.lit(float(h_sigmas)) * F.col("sigma")
    wc = Window.partitionBy(source_col).orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    j2 = j.withColumn("_pp", F.sum(v - F.col("mu") - k).over(wc)).withColumn(
        "_pm", F.sum(F.col("mu") - k - v).over(wc)
    )
    # materialize sp/sm ONCE: WindowExec does not dedupe identical
    # window expressions, so referencing them twice (output + label)
    # would double the running-min buffers
    j3 = j2.select(
        "*",
        (F.col("_pp") - F.least(F.lit(0.0), F.min("_pp").over(wc))).alias("sp"),
        (F.col("_pm") - F.least(F.lit(0.0), F.min("_pm").over(wc))).alias("sm"),
    )
    label = F.when(v.isNull(), F.lit(None).cast("boolean")).otherwise(
        (F.col("sp") > h) | (F.col("sm") > h)
    )
    return j3.select(
        source_col,
        ts_col,
        value_col,
        "sp",
        "sm",
        _as_double(label).alias(out_col),
    )


def cusum_ad(df, k_sigmas: float = 0.5, h_sigmas: float = 5.0, **kw):
    """fit_detect convenience: reference stats from the same series."""
    fit_kw = _fit_kw(kw)
    return cusum_ad_detect(df, cusum_ad_fit(df, **fit_kw), k_sigmas, h_sigmas, **kw)


# ---------------------------------------------------------------------------
# GeneralizedESDTestAD
# ---------------------------------------------------------------------------

def esd_ad_fit(
    train: DataFrame,
    alpha: float = 0.05,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    portable: bool = False,
    max_rows_per_source: int | None = None,
) -> DataFrame:
    """GeneralizedESDTestAD._fit_core (_detector_1d.py:309-344).

    The iterative outlier-removal loop is inherently sequential per
    series, so it runs per source in one Arrow grouped-map UDF; the
    Student-t quantile comes from the vendored pure-numpy
    functions.stats.t_ppf (scipy absent in this environment).
    Returns (source, normal_sum, normal_sq_sum, normal_count, lam).

    ``portable=True`` swaps the exact bisection t_ppf for the
    closed-form Hill expansion (stats.t_ppf_hill, |rel err| ~1e-6) so a
    SQL oracle can reproduce lambda — and therefore the fitted model —
    with the identical arithmetic. Reference-parity goldens keep the
    exact quantile.
    """
    import numpy as np
    import pandas as pd

    from ..functions.stats import t_ppf, t_ppf_hill
    quantile = t_ppf_hill if portable else t_ppf

    def lam_of(n: int, i: int, a: float) -> float:
        p = 1 - a / (2 * (n - i + 1))
        tq = quantile(p, n - i - 1)
        return (n - i) * tq / math.sqrt((n - i - 1 + tq * tq) * (n - i + 1))

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..functions.rolling_udf import guard_source_rows

        src = pdf[source_col].iloc[0]
        guard_source_rows(len(pdf), max_rows_per_source, src, "esd_ad_fit")
        pdf = pdf.sort_values(ts_col)  # deterministic idxmax tie-breaks
        s = pdf[value_col].to_numpy(dtype=float)
        n = int(np.count_nonzero(~np.isnan(s)))
        if n == 0:
            raise ValueError(f"source {src!r}: no valid values for ESD fit")
        R = np.zeros(len(s))
        Lam = np.zeros(len(s))
        work = s.copy()
        i = 0
        while np.count_nonzero(~np.isnan(work)) > 0:
            i += 1
            dev = np.abs(work - np.nanmean(work))
            ind = int(np.nanargmax(dev))
            std = np.nanstd(work, ddof=1)
            R[ind] = dev[ind] / std if std > 0 else 0.0
            work[ind] = np.nan
            Lam[ind] = lam_of(n, i, alpha)
            if R[ind] <= Lam[ind]:
                break
        normal = Lam >= R
        ns = np.nansum(np.where(normal, s, np.nan))
        nss = np.nansum(np.where(normal, s * s, np.nan))
        nc = int(np.count_nonzero(normal & ~np.isnan(s)))
        lam = lam_of(nc + 1, 1, alpha)
        return pd.DataFrame(
            {source_col: [src], "normal_sum": [ns], "normal_sq_sum": [nss],
             "normal_count": [nc], "lam": [lam]}
        )

    schema = (
        f"{source_col} string, normal_sum double, normal_sq_sum double, "
        "normal_count long, lam double"
    )
    return train.groupBy(source_col).applyInPandas(fit, schema=schema)


def esd_ad_detect(
    df: DataFrame,
    model: DataFrame,
    *,
    source_col: str = "source",
    value_col: str = "value",
    out_col: str = "label",
) -> DataFrame:
    """GeneralizedESDTestAD._predict_core (_detector_1d.py:346-361):
    add each point to the fitted normal set and re-test — pure column
    arithmetic after a broadcast join."""
    joined = df.join(F.broadcast(model), on=source_col, how="left")
    v = F.col(value_col)
    new_sum = v + F.col("normal_sum")
    new_count = F.col("normal_count") + 1
    new_mean = new_sum / new_count
    new_sq = v * v + F.col("normal_sq_sum")
    new_std = F.sqrt(
        (new_sq - 2 * new_mean * new_sum + new_count * new_mean * new_mean)
        / (new_count - 1)
    )
    # std == 0 can only happen with |v - mean| == 0 (whole set constant);
    # pandas gets nan > lam == False there, Spark (ansi off) gets NULL —
    # coalesce to False for parity
    flag = F.coalesce(F.abs(v - new_mean) / new_std > F.col("lam"), F.lit(False))
    label = F.when(v.isNull(), F.lit(None)).otherwise(flag)
    return joined.select(*select_with(
        joined.columns, out_col, _as_double(label),
        ("normal_sum", "normal_sq_sum", "normal_count", "lam")))


def esd_ad(df: DataFrame, alpha: float = 0.05, *, source_col: str = "source",
           ts_col: str = "ts", value_col: str = "value", portable: bool = False,
           out_col: str = "label") -> DataFrame:
    """GeneralizedESDTestAD fit_detect on one series."""
    model = esd_ad_fit(df, alpha, source_col=source_col, ts_col=ts_col,
                       value_col=value_col, portable=portable)
    return esd_ad_detect(df, model, source_col=source_col, value_col=value_col,
                         out_col=out_col)


# ---------------------------------------------------------------------------
# compound window detectors (Pipenet-derived trio)
# ---------------------------------------------------------------------------

def _side_sign_label(diff: Column, side: str) -> Column:
    """The reference's sign_check ThresholdAD (e.g. _detector_1d.py:450-470):
    side='both'     -> high=-inf, low=+inf  (true for any non-NULL diff)
    side='positive' -> high=0               (diff > 0)
    side='negative' -> low=0                (diff < 0)
    """
    if side == "both":
        return threshold_label(diff, INF, -INF)
    if side == "positive":
        return threshold_label(diff, None, 0.0)
    if side == "negative":
        return threshold_label(diff, 0.0, None)
    raise ValueError("side must be 'both', 'positive' or 'negative'")


def _compound_detect(
    df: DataFrame,
    bounds: DataFrame,
    side: str,
    *,
    source_col: str,
    out_col: str,
) -> DataFrame:
    """Label the feature frame ``df`` (``_diff``, ``_mag``) with a
    per-source bounds table: the train/test form of the compound rule."""
    joined = df.join(F.broadcast(bounds), on=source_col, how="left")
    label = _compound_label(F.col("_mag"), F.col("_diff"), F.col("abs_low"),
                            F.col("abs_high"), side)
    return joined.select(*select_with(joined.columns, out_col, label,
                                        _BOUNDS + ("_diff", "_mag")))


def _compound_label(mag: Column, diff: Column, lo: Column, hi: Column, side: str) -> Column:
    """IQR rule on the magnitude AND sign rule on the signed diff, as a
    double label.

    SQL three-valued AND replicates AndAggregator's NaN semantics
    (_aggregator.py:209-212) natively: FALSE & NULL = FALSE,
    TRUE & NULL = NULL.
    """
    return _as_double(threshold_label(mag, lo, hi) & _side_sign_label(diff, side))


def _compound_fit_detect(
    d: DataFrame,
    c,
    side: str,
    *,
    source_col: str,
    ts_col: str | None,
    out_col: str,
    diff_col: str = "_diff",
    mag_col: str = "_mag",
) -> DataFrame:
    """Fit the IQR rule (``c`` as in ``iqr_ad_fit``) on ``mag_col`` and
    label ``d`` in the same plan.

    The per-source type-7 Q1/Q3 are ``_source_quantiles`` window
    columns; the bounds, the label and the dropped features are one
    projection. One Exchange at most (none when ``d`` is already
    partitioned by source, as window-built feature frames are), no join:
    equal, row for row, to ``iqr_ad_fit`` + ``_compound_detect`` on the
    same frame (NULL sources get NULL bounds, as the left join gives
    them). With a ``ts_col`` the rows leave re-sorted by (source, ts)
    within partitions.
    """
    picked, (q1, q3) = _source_quantiles(d, mag_col, (0.25, 0.75), source_col=source_col)
    lo, hi = _iqr_bounds(q1, q3, c)
    known = F.col(source_col).isNotNull()
    label = _compound_label(F.col(mag_col), F.col(diff_col), F.when(known, lo),
                            F.when(known, hi), side)
    keep = [source_col] + [k for k in d.columns if k != source_col]
    out = picked.select(*select_with(keep, out_col, label, (diff_col, mag_col)))
    return out if ts_col is None else out.sortWithinPartitions(source_col, ts_col)


def _shift_diffs(df, window, min_periods, agg, diff_mag, source_col, ts_col, value_col):
    # The compound window detectors' feature frame: the signed diff of a
    # center=True DoubleRollingAggregate and its magnitude (l1 or
    # abs_rel_diff), from one Window node and no join.
    lr = double_rolling_sides(df, window, agg, None, True, min_periods,
                              source_col=source_col, ts_col=ts_col,
                              value_col=value_col)
    left, right = F.col("_l"), F.col("_r")
    diff = right - left
    mag = F.abs(diff) if diff_mag == "l1" else F.abs(diff) / left
    return lr.select(*df.columns, diff.alias("_diff"), mag.alias("_mag"))


def _persist_diffs(df, window, min_periods, agg, source_col, ts_col, value_col):
    # PersistAD pipenet (_detector_1d.py:424-478): window=(w, 1),
    # min_periods=(mp, 1); for scalar aggs its l1 branch is abs(diff)
    return _shift_diffs(df, (window, 1), (min_periods, 1), agg, "l1",
                        source_col, ts_col, value_col)


def _volatility_diffs(df, window, min_periods, agg, source_col, ts_col, value_col):
    # VolatilityShiftAD: abs_rel_diff of a volatility agg
    if agg not in ("std", "iqr", "idr"):
        raise ValueError("agg must be 'std', 'iqr' or 'idr'")
    return _shift_diffs(df, window, min_periods, agg, "abs_rel_diff",
                        source_col, ts_col, value_col)


def persist_ad_fit(
    train: DataFrame,
    window=1,
    c: float = 3.0,
    min_periods: int | None = None,
    agg: str = "median",
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """PersistAD fit (_detector_1d.py:369-534): IQR bounds of |diff|."""
    d = _persist_diffs(train, window, min_periods, agg, source_col, ts_col, value_col)
    return iqr_ad_fit(d, c=(None, c), source_col=source_col, value_col="_mag")


def persist_ad_detect(
    df: DataFrame,
    bounds: DataFrame,
    window=1,
    side: str = "both",
    min_periods: int | None = None,
    agg: str = "median",
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    out_col: str = "label",
) -> DataFrame:
    d = _persist_diffs(df, window, min_periods, agg, source_col, ts_col, value_col)
    return _compound_detect(d, bounds, side, source_col=source_col, out_col=out_col)


def persist_ad(df, window=1, c=3.0, side="both", min_periods=None, agg="median", *,
               source_col="source", ts_col="ts", value_col="value", out_col="label"):
    """PersistAD fit_detect on one series table: one feature frame, the
    IQR fit as window columns over it (``_compound_fit_detect``)."""
    d = _persist_diffs(df, window, min_periods, agg, source_col, ts_col, value_col)
    return _compound_fit_detect(d, (None, c), side, source_col=source_col,
                                ts_col=ts_col, out_col=out_col)


def level_shift_ad_fit(train, window, c=6.0, min_periods=None, *,
                       source_col="source", ts_col="ts", value_col="value"):
    """LevelShiftAD (_detector_1d.py:537-692): |median_R - median_L| IQR rule."""
    d = _shift_diffs(train, window, min_periods, "median", "l1", source_col, ts_col, value_col)
    return iqr_ad_fit(d, c=(None, c), source_col=source_col, value_col="_mag")


def level_shift_ad_detect(df, bounds, window, side="both", min_periods=None, *,
                          source_col="source", ts_col="ts", value_col="value",
                          out_col="label"):
    d = _shift_diffs(df, window, min_periods, "median", "l1", source_col, ts_col, value_col)
    return _compound_detect(d, bounds, side, source_col=source_col, out_col=out_col)


def level_shift_ad(df, window, c=6.0, side="both", min_periods=None, *,
                   source_col="source", ts_col="ts", value_col="value", out_col="label"):
    d = _shift_diffs(df, window, min_periods, "median", "l1", source_col, ts_col, value_col)
    return _compound_fit_detect(d, (None, c), side, source_col=source_col,
                                ts_col=ts_col, out_col=out_col)


def volatility_shift_ad_fit(train, window, c=6.0, min_periods=None, agg="std", *,
                            source_col="source", ts_col="ts", value_col="value"):
    """VolatilityShiftAD (_detector_1d.py:695-860): abs_rel_diff of a
    volatility agg (std/iqr/idr), IQR rule."""
    d = _volatility_diffs(train, window, min_periods, agg, source_col, ts_col, value_col)
    return iqr_ad_fit(d, c=(None, c), source_col=source_col, value_col="_mag")


def volatility_shift_ad_detect(df, bounds, window, side="both", min_periods=None,
                               agg="std", *, source_col="source", ts_col="ts",
                               value_col="value", out_col="label"):
    d = _volatility_diffs(df, window, min_periods, agg, source_col, ts_col, value_col)
    return _compound_detect(d, bounds, side, source_col=source_col, out_col=out_col)


def volatility_shift_ad(df, window, c=6.0, side="both", min_periods=None, agg="std", *,
                        source_col="source", ts_col="ts", value_col="value",
                        out_col="label"):
    d = _volatility_diffs(df, window, min_periods, agg, source_col, ts_col, value_col)
    return _compound_fit_detect(d, (None, c), side, source_col=source_col,
                                ts_col=ts_col, out_col=out_col)


# ---------------------------------------------------------------------------
# AutoregressionAD — lag features + closed-form OLS residual
# ---------------------------------------------------------------------------

def _lag_cols(df, n_steps, step_size, *, source_col, ts_col, value_col):
    w = Window.partitionBy(source_col).orderBy(ts_col)
    out = df
    for i in range(1, n_steps + 1):
        out = out.withColumn(f"_lag{i}", F.lag(value_col, i * step_size).over(w))
    return out


def autoregression_ad_fit(
    train: DataFrame,
    n_steps: int = 1,
    step_size: int = 1,
    c: float = 3.0,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """AutoregressionAD fit (_detector_1d.py:863-1020).

    Per-source OLS over the lag matrix (Retrospect -> RegressionResidual
    with LinearRegression), solved in closed form with numpy inside one
    grouped-map Arrow UDF — the per-source series a detector sees is
    tier-granular (bounded), so a per-group solve is the right scale
    trade-off vs a cross-products aggregation.

    Returns (source, intercept, coefs array<double>, abs_low, abs_high).
    """
    import numpy as np
    import pandas as pd

    lagged = _lag_cols(train, n_steps, step_size,
                       source_col=source_col, ts_col=ts_col, value_col=value_col)
    feat = [f"_lag{i}" for i in range(1, n_steps + 1)]

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col)
        sub = pdf[[value_col] + feat].dropna()
        if sub.empty:
            return pd.DataFrame(
                {source_col: [pdf[source_col].iloc[0]], "intercept": [np.nan],
                 "coefs": [[np.nan] * n_steps],
                 "abs_low": [np.nan], "abs_high": [np.nan]}
            )
        X = np.column_stack([sub[feat].values, np.ones(len(sub))])
        y = sub[value_col].values
        beta, *_ = np.linalg.lstsq(X, y, rcond=None)
        coefs, intercept = beta[:-1], beta[-1]
        resid = y - X @ beta
        # IQR bounds of |residual| with c=(None, c)  (iqr_ad on abs_residual)
        a = np.abs(resid)
        q1, q3 = np.percentile(a, 25), np.percentile(a, 75)
        return pd.DataFrame(
            {source_col: [pdf[source_col].iloc[0]], "intercept": [intercept],
             "coefs": [list(coefs)],
             "abs_low": [-INF], "abs_high": [q3 + c * (q3 - q1)]}
        )

    schema = (
        f"{source_col} string, intercept double, coefs array<double>, "
        "abs_low double, abs_high double"
    )
    return lagged.groupBy(source_col).applyInPandas(fit, schema=schema)


def autoregression_ad_detect(
    df: DataFrame,
    model: DataFrame,
    n_steps: int = 1,
    step_size: int = 1,
    side: str = "both",
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    out_col: str = "label",
) -> DataFrame:
    lagged = _lag_cols(df, n_steps, step_size,
                       source_col=source_col, ts_col=ts_col, value_col=value_col)
    joined = lagged.join(F.broadcast(model), on=source_col, how="left")
    pred = F.col("intercept")
    for i in range(1, n_steps + 1):
        pred = pred + F.element_at(F.col("coefs"), i) * F.col(f"_lag{i}")
    resid = F.col(value_col) - pred  # NULL if any lag/value is NULL (dropna parity)
    # the model already carries the IQR bounds from the single broadcast join
    label = _compound_label(F.abs(resid), resid, F.col("abs_low"), F.col("abs_high"), side)
    drop = _BOUNDS + ("intercept", "coefs", *[f"_lag{i}" for i in range(1, n_steps + 1)])
    return joined.select(*select_with(joined.columns, out_col, label, drop))


def autoregression_ad(df: DataFrame, n_steps: int = 1, step_size: int = 1,
                      c: float = 3.0, side: str = "both", *, source_col: str = "source",
                      ts_col: str = "ts", value_col: str = "value",
                      out_col: str = "label") -> DataFrame:
    """AutoregressionAD fit_detect on one series."""
    cols = dict(source_col=source_col, ts_col=ts_col, value_col=value_col)
    model = autoregression_ad_fit(df, n_steps, step_size, c, **cols)
    return autoregression_ad_detect(df, model, n_steps, step_size, side,
                                    out_col=out_col, **cols)


# ---------------------------------------------------------------------------
# SeasonalAD — seasonal decomposition residual + IQR rule
# ---------------------------------------------------------------------------

def seasonal_ad(
    df: DataFrame,
    freq: int | None = None,
    side: str = "both",
    c: float = 3.0,
    trend: bool = False,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    out_col: str = "label",
) -> DataFrame:
    """SeasonalAD fit_detect (_detector_1d.py:1023-1164).

    The input feeds both the ACF/phase fit and the residual transform,
    and the fitted model feeds both of the transform's joins; lazy
    ``localCheckpoint``s cut those shared lineages so each materializes
    once instead of re-deriving its upstream per consumer (the r04 plan
    census read 14 Exchanges from exactly that re-derivation). The
    residual has a single consumer: ``_compound_fit_detect`` fits the
    IQR bounds as window columns over it and labels it in the same
    plan.
    """
    from .transformers import seasonal_fit, seasonal_transform

    df = df.localCheckpoint(eager=False)
    model = seasonal_fit(df, freq=freq, trend=trend, source_col=source_col,
                         ts_col=ts_col, value_col=value_col).localCheckpoint(eager=False)
    resid = seasonal_transform(df, model, trend=trend, source_col=source_col,
                               ts_col=ts_col, value_col=value_col, out_col="_diff")
    resid = resid.withColumn("_mag", F.abs(F.col("_diff")))
    return _compound_fit_detect(resid, (None, c), side, source_col=source_col,
                                ts_col=ts_col, out_col=out_col)


def require_fit(model: DataFrame, *, source_col: str = "source") -> DataFrame:
    """Strict fit validation — parity with the reference's RuntimeError
    on a training series too short for the model's window
    (tests/test_few_shot_fit.py; e.g. PersistAD(window=10).fit(10-point
    series) raises).

    In a distributed job one short source must NOT kill the other 10^6
    sources, so the fit functions return NULL/NaN bounds for unfittable
    sources and predict degrades to NULL labels there. Single-series
    (reference-style) users call ``require_fit(bounds)`` to opt back
    into the strict contract: raises RuntimeError naming the sources
    whose fit produced no usable model, else returns the model
    unchanged.
    """
    checks = []
    cols = model.columns
    if "_n_valid" in cols:
        checks.append(F.col("_n_valid") == 0)
    for c in ("abs_high", "intercept"):
        if c in cols:
            checks.append(F.col(c).isNull() | F.isnan(F.col(c)))
    for c in ("means", "components"):  # hd.pca_fit's model
        if c in cols:
            checks.append(F.col(c).isNull())
    if not checks:
        return model
    cond = checks[0]
    for c in checks[1:]:
        cond = cond | c
    bad = [r[0] for r in model.where(cond).select(source_col).limit(10).collect()]
    if bad:
        raise RuntimeError(
            f"model fit failed for source(s) {bad}: training series too "
            "short for the window (no valid training statistic)"
        )
    return model


def trailing_percentile_ad(
    df: DataFrame,
    window: int = 24,
    q: float = 0.95,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    out_col: str = "label",
) -> DataFrame:
    """Empirical-PIT detector: flag a point whose value sits at or
    above the ``q`` empirical quantile of its own TRAILING ``window``
    observations — ``rank_frac = #{trailing values <= x} / window``.
    The adaptive threshold the fit-detect family can't give: QuantileAD
    fixes ONE global cut from the training split, so a regime shift
    (traffic doubles for a week) floods it; the trailing rank
    re-baselines every step, like PersistAD but distribution-free and
    scale-free (no sigma estimate to poison).

    The first ``window`` points per source emit NULL labels (warm-up,
    matching the fit-window NULL convention of the rolling detectors).
    NULL values are excluded from the series (no output row).

    Plan shape: one source-partitioned window; the trailing values ride
    an O(window) bounded ROWS frame array per row — JVM higher-order
    filter, no UDF, no join. Run on tier series (the detector routing
    contract); window is a row count, so irregular series mean
    "last N observations", not wall time.

    Determinism: integer counts and one division; ties in ``ts`` are
    excluded by the validate_series dedup contract upstream.
    """
    w = (Window.partitionBy(source_col).orderBy(ts_col)
         .rowsBetween(-int(window), -1))
    v = F.col(value_col)
    base = df.where(v.isNotNull())
    # materialize the window array ONCE (WindowExec does not dedupe
    # identical window expressions — two references = double buffers)
    witha = base.select(
        source_col, ts_col, value_col,
        F.collect_list(value_col).over(w).alias("_arr"),
    )
    withr = witha.select(
        source_col, ts_col, value_col,
        F.size(F.filter(F.col("_arr"), lambda x: x <= v)).alias("_le"),
        F.size("_arr").alias("_n"),
    )
    frac = F.col("_le").cast("double") / F.col("_n").cast("double")
    return withr.select(
        source_col, ts_col, value_col,
        F.when(F.col("_n") == int(window), F.round(frac, 6))
         .alias("rank_frac"),
        F.when(F.col("_n") == int(window), frac >= float(q))
         .alias(out_col),
    )


def peak_detection(
    df: DataFrame,
    min_distance: int = 5,
    height: float | None = None,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Local-maximum peak finder (the find_peaks primitive of signal
    pipelines, window-native): a point is a peak when it is the UNIQUE
    maximum of its ±``min_distance``-row neighborhood (strictly above
    every neighbor — uniqueness makes two peaks within the distance
    impossible by construction, replacing scipy's iterative greedy
    suppression with a declarative rule) and, if ``height`` is given,
    at or above it. Emits only the peaks, with ``local_rise`` (peak
    minus neighborhood minimum) as a cheap prominence proxy for
    ranking.

    The event-extraction complement to the anomaly detectors: a daily
    load peak is not an anomaly — it's a feature to time capacity to —
    and PersistAD/threshold rules either flag the whole ramp or
    nothing.

    Plan shape: one source window; the neighborhood rides a bounded
    ROWS-frame array materialized ONCE (the WindowExec double-buffer
    rule), JVM higher-order filters, no UDF, no join. Run on tier
    series per the detector routing contract.

    Determinism: pure comparisons on raw values — hash-equal to the
    SQL replay at any parallelism (dedup contract upstream).
    """
    d = int(min_distance)
    w = (Window.partitionBy(source_col).orderBy(ts_col)
         .rowsBetween(-d, d))
    v = F.col(value_col)
    base = df.where(v.isNotNull())
    witha = base.select(
        source_col, ts_col, value_col,
        F.collect_list(value_col).over(w).alias("_arr"),
    )
    above = F.size(F.filter(F.col("_arr"), lambda x: x > v))
    at = F.size(F.filter(F.col("_arr"), lambda x: x == v))
    cond = (above == 0) & (at == 1)
    if height is not None:
        cond = cond & (v >= float(height))
    return (witha.where(cond)
            .select(source_col, ts_col, value_col,
                    (v - F.array_min("_arr")).alias("local_rise")))
