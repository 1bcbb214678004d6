"""Stateful streaming scoring: train offline, detect on an unbounded stream.

The batch detectors (operators/detectors.py) remain the system of
record — centered windows need future rows and exact quantile fits are
not incremental. But PersistAD's *predict* pass is causal: with
window=(w, 1) and center=True the right frame is the current row and the
left frame is the trailing ``w`` rows (functions/windows.py:330-335), so
per-source state is a bounded value tail. This module carries that tail
across micro-batches with ``applyInPandasWithState`` (Arrow-batched
grouped state — the vectorized path, no per-row Python UDFs) and applies
the *batch-fitted* IQR bounds, closing the classic
fit-offline / score-online loop on the ingest edge.

Parity target: PersistAD predict, reference
/root/reference/src/adtk/detector/_detector_1d.py:424-534 (pipenet of
DoubleRollingAggregate(window=(w,1), center=True) -> abs -> IQR
threshold -> sign check). Verified batch-vs-stream point parity in
tests/test_streaming_job.py.

Scale notes:
- state per source = ``window`` doubles (a few hundred bytes), hashed
  across executors by the state store; 10^6 sources at window=100 is
  <1 GiB of state cluster-wide.
- label math is numpy ``sliding_window_view`` over the concatenated
  (tail + batch) array — one vectorized pass per (source, micro-batch).
- late rows older than the buffered tail are scored against the tail as
  delivered (documented lambda split: the batch incremental refresher
  owns restatements, streaming/rollup_stream.py).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

_SUPPORTED_AGGS = ("median", "mean", "min", "max", "sum")


def _bounds_map(bounds: DataFrame, source_col: str) -> dict[str, tuple[float, float]]:
    """Collect the per-source model table (one row per source) into a
    dict, which ``streaming_persist_ad`` then ships as a Spark
    **broadcast variable** — one torrent-distributed copy per executor,
    not one pickled closure copy per task. At 10^6 sources the model
    table is tens of MB; a closure would re-serialize it into every
    micro-batch task, a broadcast moves it once per executor (the
    streaming analogue of the batch broadcast join,
    detectors.apply_bounds).

    NULL fitted bounds (a source whose training series was too short —
    see detectors.require_fit) become NaN, so that source's stream rows
    degrade to undecided labels instead of killing the query."""
    return {
        r[source_col]: (
            float(r["abs_low"]) if r["abs_low"] is not None else math.nan,
            float(r["abs_high"]) if r["abs_high"] is not None else math.nan,
        )
        for r in bounds.select(source_col, "abs_low", "abs_high").collect()
    }


# registered once at import: filterwarnings inside the hot function
# would append two entries to the global filter list per (source, batch)
# call in long-lived reused Python workers
import warnings as _warnings

_warnings.filterwarnings("ignore", message=".*All-NaN slice.*")
_warnings.filterwarnings("ignore", message=".*[Mm]ean of empty slice.*")
_warnings.filterwarnings("ignore", message=".*Degrees of freedom <= 0.*")


def streaming_threshold_ad(stream: DataFrame, low=None, high=None, **kw) -> DataFrame:
    """ThresholdAD on a stream: the batch operator is a pure projection,
    so it applies to a streaming DataFrame unchanged (stateless)."""
    from ..operators.detectors import threshold_ad

    return threshold_ad(stream, low, high, **kw)


def streaming_bounds_ad(stream: DataFrame, bounds: DataFrame, **kw) -> DataFrame:
    """QuantileAD / IQR-AD predict on a stream: batch-fitted per-source
    bounds applied via a stream-static broadcast join (the fit stays a
    batch aggregation; predict is stateless row-at-a-time)."""
    from ..operators.detectors import apply_bounds

    return apply_bounds(stream, bounds, **kw)


def streaming_persist_ad(
    stream: DataFrame,
    bounds: DataFrame,
    window: int = 1,
    side: str = "both",
    min_periods: int | None = None,
    agg: str = "median",
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    out_col: str = "label",
) -> DataFrame:
    """Score a raw-series stream with batch-fitted PersistAD bounds.

    ``bounds`` is the (batch) model table from
    ``detectors.persist_ad_fit`` — per-source ``abs_low``/``abs_high``
    over |value - agg(prev window rows)|. Labels follow the batch
    three-valued convention: 1.0 anomaly, 0.0 normal, NaN undecidable
    (NULL value, unfilled min_periods tail, or unknown source — unless
    ``side`` rules the point out, which gives 0.0 as in batch).

    Arrival contract: rows may arrive unordered *within* a micro-batch
    (sorted per batch); rows older than the retained tail across batches
    are scored against the tail as-is.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    if agg not in _SUPPORTED_AGGS:
        raise ValueError(f"agg must be one of {_SUPPORTED_AGGS}")
    if side not in ("both", "positive", "negative"):
        raise ValueError("side must be 'both', 'positive' or 'negative'")
    w = int(window)
    mp = w if min_periods is None else int(min_periods)
    # broadcast, not closure: the stateful function below must not close
    # over the (possibly large) model dict, or every task of every
    # micro-batch re-ships it; bmap_bc.value is fetched once per executor
    bmap_bc = stream.sparkSession.sparkContext.broadcast(
        _bounds_map(bounds, source_col))

    def score(key, pdf_iter, state):
        tail = np.asarray(state.get[0], dtype=float) if state.exists else np.empty(0)
        lo, hi = bmap_bc.value.get(key[0], (math.nan, math.nan))
        for pdf in pdf_iter:
            pdf = pdf.sort_values(ts_col, kind="mergesort").reset_index(drop=True)
            new = pdf[value_col].to_numpy(dtype=float)
            vals = np.concatenate([tail, new])
            # prev-window view: padded[t:t+w] == vals[t-w:t]
            padded = np.concatenate([np.full(w, np.nan), vals])
            wins = np.lib.stride_tricks.sliding_window_view(padded, w)[
                len(tail): len(tail) + len(new)
            ]
            n_valid = np.count_nonzero(~np.isnan(wins), axis=1)
            with np.errstate(all="ignore"):
                left = np.where(n_valid >= mp, _window_stat(wins, agg), np.nan)
            diff = new - left
            out = pdf[[ts_col, value_col]].copy()
            out.insert(0, source_col, key[0])
            out[out_col] = _label(np.abs(diff), diff, lo, hi, side)
            tail = vals[-w:] if len(vals) >= w else vals
            yield out
        state.update((tail.tolist(),))

    out_schema = (
        f"`{source_col}` string, `{ts_col}` timestamp, "
        f"`{value_col}` double, `{out_col}` double"
    )
    return stream.groupBy(source_col).applyInPandasWithState(
        score,
        outputStructType=out_schema,
        stateStructType="val_tail array<double>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_level_shift_ad(
    stream: DataFrame,
    bounds: DataFrame,
    window,
    side: str = "both",
    min_periods=None,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    out_col: str = "label",
) -> DataFrame:
    """LevelShiftAD on a stream via DELAYED EMISSION.

    The batch detector's double window is centered: row t compares
    median(vals[t-wl .. t-1]) against median(vals[t .. t+wr-1]) — it
    needs ``wr-1`` FUTURE rows, so a naive streaming port is impossible.
    This operator buffers per-source state of the last ``wl + wr - 1``
    rows and emits row t's label only once its right window has fully
    arrived: the stream output lags the input by ``wr-1`` rows per
    source (the operator-level analogue of a watermark delaying window
    finalization). Rows whose right window never fills (stream tail)
    are never emitted — the same rows the batch detector can only label
    NaN-ward; the batch refresher owns them.

    ``bounds`` is the batch model from ``detectors.level_shift_ad_fit``
    (per-source IQR thresholds over |median_R - median_L|), shipped as
    a broadcast variable. Labels follow the batch three-valued rule:
    NaN diff (unfilled min_periods) -> NaN; IQR flag AND side-sign
    flag otherwise. Point parity with ``level_shift_ad_detect`` on the
    emitted rows is verified in tests/test_streaming_job.py.

    State cost: ``wl + wr - 1`` (value, ts) pairs per source — bounded,
    independent of history length.
    """
    return _streaming_shift_ad(
        stream, bounds, window, side, min_periods, "median", "l1",
        source_col=source_col, ts_col=ts_col, value_col=value_col,
        out_col=out_col)


def streaming_volatility_shift_ad(
    stream: DataFrame,
    bounds: DataFrame,
    window,
    side: str = "both",
    min_periods=None,
    agg: str = "std",
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    out_col: str = "label",
) -> DataFrame:
    """VolatilityShiftAD on a stream — same delayed-emission machinery
    as ``streaming_level_shift_ad`` with a volatility window statistic
    (std/iqr/idr) and the batch detector's abs_rel_diff magnitude.
    ``bounds`` comes from ``detectors.volatility_shift_ad_fit``."""
    if agg not in ("std", "iqr", "idr"):
        raise ValueError("agg must be 'std', 'iqr' or 'idr'")
    return _streaming_shift_ad(
        stream, bounds, window, side, min_periods, agg, "abs_rel_diff",
        source_col=source_col, ts_col=ts_col, value_col=value_col,
        out_col=out_col)


def _window_stat(wins: np.ndarray, agg: str) -> np.ndarray:
    """Per-row statistic of the NaN-padded windows ``wins``; all-NaN
    windows are expected (the callers mask them by min_periods), so
    numpy's warnings for them are filtered above."""
    if agg == "median":
        return np.nanmedian(wins, axis=1)
    if agg == "mean":
        return np.nanmean(wins, axis=1)
    if agg == "min":
        return np.nanmin(wins, axis=1)
    if agg == "max":
        return np.nanmax(wins, axis=1)
    if agg == "sum":
        return np.nansum(wins, axis=1)
    if agg == "std":
        # sample std, matching the batch F.stddev_samp
        return np.nanstd(wins, axis=1, ddof=1)
    if agg == "iqr":
        return (np.nanpercentile(wins, 75, axis=1)
                - np.nanpercentile(wins, 25, axis=1))
    # idr
    return (np.nanpercentile(wins, 90, axis=1)
            - np.nanpercentile(wins, 10, axis=1))


def _label(mag: np.ndarray, diff: np.ndarray, lo: float, hi: float,
           side: str) -> np.ndarray:
    """Batch-parity labels: the IQR flag on ``mag`` AND the side-sign
    flag on ``diff``, combined with SQL THREE-VALUED AND — a False leg
    forces 0.0 even when the other leg is NULL (NaN ``mag``, or a NaN
    bound: an unknown source, or one whose fitted bound is NULL
    because it was unfittable)."""
    iqr_f = np.where(
        np.isnan(mag) | math.isnan(lo) | math.isnan(hi),
        np.nan, ((mag > hi) | (mag < lo)).astype(float))
    if side == "both":
        sign_f = np.where(np.isnan(diff), np.nan, 1.0)
    elif side == "positive":
        sign_f = np.where(np.isnan(diff), np.nan, (diff > 0).astype(float))
    else:
        sign_f = np.where(np.isnan(diff), np.nan, (diff < 0).astype(float))
    return np.where((iqr_f == 0) | (sign_f == 0), 0.0,
                    np.where(np.isnan(iqr_f) | np.isnan(sign_f), np.nan, 1.0))


def _streaming_shift_ad(
    stream: DataFrame,
    bounds: DataFrame,
    window,
    side: str,
    min_periods,
    agg: str,
    diff_mag: str,
    *,
    source_col: str,
    ts_col: str,
    value_col: str,
    out_col: str,
) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    if side not in ("both", "positive", "negative"):
        raise ValueError("side must be 'both', 'positive' or 'negative'")
    wl, wr = window if isinstance(window, tuple) else (int(window), int(window))
    if wl < 1 or wr < 1:
        raise ValueError("window sides must be >= 1")
    mpl, mpr = (min_periods if isinstance(min_periods, tuple)
                else (min_periods, min_periods))
    mpl = wl if mpl is None else int(mpl)
    mpr = wr if mpr is None else int(mpr)
    keep = wl + wr - 1
    bmap_bc = stream.sparkSession.sparkContext.broadcast(
        _bounds_map(bounds, source_col))

    def score(key, pdf_iter, state):
        if state.exists:
            tail_v = np.asarray(state.get[0], dtype=float)
            tail_t = np.asarray(state.get[1], dtype=np.int64)
        else:
            tail_v, tail_t = np.empty(0), np.empty(0, dtype=np.int64)
        lo, hi = bmap_bc.value.get(key[0], (math.nan, math.nan))
        for pdf in pdf_iter:
            pdf = pdf.sort_values(ts_col, kind="mergesort").reset_index(drop=True)
            s = len(tail_v)
            vals = np.concatenate([tail_v, pdf[value_col].to_numpy(dtype=float)])
            tss = np.concatenate([
                tail_t,
                pdf[ts_col].astype("datetime64[us]").to_numpy().astype(np.int64),
            ])
            n = len(vals)
            first = max(0, s - (wr - 1))  # first not-yet-emitted index
            last = n - wr  # newest index whose right window is complete
            if last >= first:
                idx = np.arange(first, last + 1)
                padded = np.concatenate([np.full(wl, np.nan), vals])
                lwin = np.lib.stride_tricks.sliding_window_view(padded, wl)[idx]
                rwin = np.lib.stride_tricks.sliding_window_view(vals, wr)[idx]
                with np.errstate(all="ignore"):
                    stat_l = np.where(
                        np.count_nonzero(~np.isnan(lwin), axis=1) >= mpl,
                        _window_stat(lwin, agg), np.nan)
                    stat_r = np.where(
                        np.count_nonzero(~np.isnan(rwin), axis=1) >= mpr,
                        _window_stat(rwin, agg), np.nan)
                    diff = stat_r - stat_l
                    if diff_mag == "l1":
                        mag = np.abs(diff)
                    else:
                        # Spark with ANSI off yields NULL on /0 — mirror
                        # as NaN, not numpy's inf
                        mag = np.where(stat_l == 0, np.nan,
                                       np.abs(diff) / stat_l)
                out = pd.DataFrame({
                    source_col: key[0],
                    ts_col: pd.to_datetime(tss[idx], unit="us"),
                    value_col: vals[idx],
                    out_col: _label(mag, diff, lo, hi, side),
                })
                yield out
            tail_v, tail_t = vals[-keep:], tss[-keep:]
        state.update((tail_v.tolist(), tail_t.tolist()))

    out_schema = (
        f"`{source_col}` string, `{ts_col}` timestamp, "
        f"`{value_col}` double, `{out_col}` double"
    )
    return stream.groupBy(source_col).applyInPandasWithState(
        score,
        outputStructType=out_schema,
        stateStructType="val_tail array<double>, ts_tail array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_cusum_ad(
    stream: DataFrame,
    model: DataFrame,
    k_sigmas: float = 0.5,
    h_sigmas: float = 5.0,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    out_col: str = "label",
) -> DataFrame:
    """Streaming two-sided CUSUM with batch-fitted reference stats
    (``detectors.cusum_ad_fit``). State per source is TWO floats
    (S+, S-) — the smallest state of any detector here; 10^8 sources
    fit in a few GB of state store.

    Within a micro-batch the textbook recursion is vectorized by the
    same restart-point closed form the batch operator uses, extended
    with a carry-in term: with s0 the state entering the batch and
    P the batch-local prefix sums of (x - mu - k),

        S_t = max(P_t - min(0, running-min P_t),  s0 + P_t)

    (the left candidate covers every restart inside the batch, the
    right covers "no restart since the carry-in"). Within a batch the
    numpy cumsum adds in the same sequential order as the batch window
    cumsum; at batch boundaries the carry-in regroups the prefix-sum
    association, so sp/sm agree with ``cusum_ad_detect`` to ulp-scale
    of the running prefix sums (bit-exact within the first batch) and
    labels can differ only if a statistic sits within that slack of
    the threshold. NULL values yield NaN
    labels and are transparent to the cumsums (dev := 0), matching the
    batch SUM-skips-NULL semantics; unknown sources yield NaN.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    stats_bc = stream.sparkSession.sparkContext.broadcast(
        {r[source_col]: (r["mu"], r["sigma"]) for r in model.collect()}
    )
    kf, hf = float(k_sigmas), float(h_sigmas)

    def score(key, pdf_iter, state):
        sp0, sm0 = state.get if state.exists else (0.0, 0.0)
        mu, sigma = stats_bc.value.get(key[0], (math.nan, math.nan))
        k, h = kf * sigma, hf * sigma
        for pdf in pdf_iter:
            pdf = pdf.sort_values(ts_col, kind="mergesort").reset_index(drop=True)
            x = pdf[value_col].to_numpy(dtype=float)
            nan = np.isnan(x)
            devp = np.where(nan, 0.0, (x - mu) - k)
            devm = np.where(nan, 0.0, (mu - k) - x)
            pp = np.cumsum(devp)
            pm = np.cumsum(devm)
            sp = np.maximum(pp - np.minimum(np.minimum.accumulate(pp), 0.0),
                            sp0 + pp)
            sm = np.maximum(pm - np.minimum(np.minimum.accumulate(pm), 0.0),
                            sm0 + pm)
            with np.errstate(invalid="ignore"):
                flag = (sp > h) | (sm > h)
            label = np.where(nan | math.isnan(mu), np.nan, flag.astype(float))
            out = pdf[[ts_col, value_col]].copy()
            out.insert(0, source_col, key[0])
            out["sp"] = sp
            out["sm"] = sm
            out[out_col] = label
            if len(x):
                sp0, sm0 = float(sp[-1]), float(sm[-1])
            yield out
        state.update((sp0, sm0))

    out_schema = (
        f"`{source_col}` string, `{ts_col}` timestamp, "
        f"`{value_col}` double, `sp` double, `sm` double, `{out_col}` double"
    )
    return stream.groupBy(source_col).applyInPandasWithState(
        score,
        outputStructType=out_schema,
        stateStructType="sp double, sm double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
