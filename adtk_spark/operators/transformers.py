"""Series->series transformers.

Parity targets in /root/reference/src/adtk/transformer/_transformer_1d.py
and _transformer_hd.py (cited per function). Everything except per-source
seasonal *fit* is a lazy column expression; fits are aggregation actions
producing small broadcastable model tables.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def standard_scale(
    df: DataFrame,
    *,
    source_col: str = "source",
    value_col: str = "value",
    out_col: str = "scaled",
) -> DataFrame:
    """StandardScale (_transformer_1d.py:107-127): (s - mean)/std per
    source, std->1 when 0. groupBy + broadcast join (not a window) so the
    big table is never sorted and the model side stays tiny.
    """
    v = F.col(value_col)
    stats = df.groupBy(source_col).agg(
        F.avg(v).alias("_mean"),
        F.coalesce(
            F.when(F.stddev_samp(v) != 0, F.stddev_samp(v)), F.lit(1.0)
        ).alias("_std"),
    )
    out = df.join(F.broadcast(stats), on=source_col, how="left")
    return out.withColumn(out_col, (v - F.col("_mean")) / F.col("_std")).drop("_mean", "_std")


def retrospect(
    df: DataFrame,
    n_steps: int = 1,
    step_size: int = 1,
    till: int = 0,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    prefix: str = "t-",
) -> DataFrame:
    """Retrospect (_transformer_1d.py:880-965): lag matrix columns
    ``t-k`` for k in till, till+step, ... (n_steps lags)."""
    w = Window.partitionBy(source_col).orderBy(ts_col)
    cols = [
        F.lag(value_col, k).over(w).alias(f"{prefix}{k}")
        for k in range(till, till + n_steps * step_size, step_size)
    ]
    return df.select("*", *cols)


def sum_all(df: DataFrame, cols: list[str], out_col: str = "sum_all") -> DataFrame:
    """SumAll (_transformer_hd.py:106-117): row-wise sum, skipna=False —
    native NULL-propagating ``+``."""
    expr = None
    for c in cols:
        expr = F.col(c) if expr is None else expr + F.col(c)
    return df.withColumn(out_col, expr)


def hist_bins(
    df: DataFrame, n: int, *, value_col: str = "value"
) -> list[float]:
    """Equal-width bin edges over the whole series range, matching
    np.histogram(s.dropna(), bins=n) (_transformer_1d.py:306-309).
    This is an action (min/max aggregation)."""
    row = df.agg(
        F.min(value_col).alias("lo"), F.max(value_col).alias("hi")
    ).collect()[0]
    edges = np.histogram(np.array([row["lo"], row["hi"]]), bins=n)[1]
    return [float(e) for e in edges]


def ewma(
    df: DataFrame,
    alpha: float = 0.2,
    window: int = 16,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    out_col: str = "ewma",
) -> DataFrame:
    """Exponentially weighted moving average, bounded-window exact form
    (pandas ``ewm(alpha, adjust=True, ignore_na=False)`` truncated to
    the last ``window`` points): y_t = sum_j w_j x_{t-j} / sum_j w_j
    with w_j = (1-alpha)^j by ROW distance (absolute-position weights,
    the pandas default), NULL terms excluded from BOTH sums. The
    truncation bias is (1-alpha)^W —
    at the defaults 0.8^16 ~ 2.8%, and each unit of W cuts it by
    (1-alpha); choose W for the precision the consumer needs.

    Why bounded: the unbounded recursion y = a*x + (1-a)*y carries
    state across every row (fine in streaming; see the stateful
    operators), but as a batch column it needs either a sequential
    scan or an overflow-prone prefix rescaling. The FIR form is W lag
    terms summed left-to-right — pure codegen over ONE (source, ts)
    sort, deterministic at any parallelism, and a SQL engine replays
    it term-for-term (weights are shortest-repr double literals that
    parse to identical IEEE values everywhere).
    """
    w = Window.partitionBy(source_col).orderBy(ts_col)
    # materialize each lag ONCE (WindowExec does not dedupe identical
    # window expressions; each lag is referenced 4x below)
    lagged = df.select(
        "*",
        *[F.lag(value_col, j).over(w).alias(f"_x{j}") for j in range(1, window)],
    )
    num = None
    den = None
    for j in range(window):
        wj = float((1.0 - alpha) ** j)
        xj = F.col(value_col) if j == 0 else F.col(f"_x{j}")
        t = F.when(xj.isNotNull(), F.lit(wj) * xj).otherwise(F.lit(0.0))
        d = F.when(xj.isNotNull(), F.lit(wj)).otherwise(F.lit(0.0))
        num = t if num is None else num + t
        den = d if den is None else den + d
    out = F.when(den > 0, num / den)
    return lagged.select("*", out.alias(out_col)).drop(
        *[f"_x{j}" for j in range(1, window)]
    )


# ---------------------------------------------------------------------------
# ClassicSeasonalDecomposition
# ---------------------------------------------------------------------------

def _acf(x: np.ndarray, nlags: int) -> np.ndarray:
    """Autocorrelation, statsmodels acf(fft=False) convention: demean by
    the overall mean, normalize by c0 (_transformer_1d.py:860)."""
    n = len(x)
    nlags = min(nlags, n - 1)
    xd = x - x.mean()
    c0 = float(np.dot(xd, xd)) / n
    out = np.empty(nlags + 1)
    out[0] = 1.0
    for k in range(1, nlags + 1):
        out[k] = (float(np.dot(xd[:-k], xd[k:])) / n) / c0
    return out


def identify_seasonal_period(
    x: np.ndarray, low_autocorr: float = 0.1, high_autocorr: float = 0.3
) -> int | None:
    """_identify_seasonal_period (_transformer_1d.py:827-877): first ACF
    peak above high_autocorr after the initial decay, pick the highest."""
    autocorr = _acf(x, len(x))
    ge = np.argwhere(autocorr >= low_autocorr)
    if len(ge) == 0:
        return None
    cut = int(ge[0][0])
    d = np.diff(autocorr[cut:])
    peaks = (
        cut + 1
        + np.argwhere((d[:-1] > 0) & (d[1:] < 0) & (autocorr[cut + 1:-1] > high_autocorr)).flatten()
    )
    if len(peaks) == 0:
        return None
    return int(peaks[np.argmax(autocorr[peaks])])


def _classic_trend(s: pd.Series, freq: int) -> pd.Series:
    """statsmodels seasonal_decompose centered moving-average trend:
    odd period -> plain centered MA of size f; even period -> f+1 points
    with half weight at both ends. NaN where the window is incomplete."""
    if freq % 2:
        return s.rolling(freq, center=True, min_periods=freq).mean()
    a = s.rolling(freq, center=True, min_periods=freq).mean()          # [-f/2, f/2-1]
    b = s[::-1].rolling(freq, center=True, min_periods=freq).mean()[::-1]  # [-f/2+1, f/2]
    return (a + b) / 2


def seasonal_fit(
    df: DataFrame,
    freq: int | None = None,
    trend: bool = False,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    max_rows_per_source: int | None = None,
) -> DataFrame:
    """ClassicSeasonalDecomposition._fit_core (_transformer_1d.py:682-733).

    Per-source grouped-map fit (series are tier-granular, bounded):
    strips leading/trailing NULLs, derives datum/dT, detects freq from
    ACF peaks when not given, and extracts the phase pattern — raw phase
    means (trend=False) or detrended phase means recentered to zero mean
    (trend=True, statsmodels convention).

    Returns one row per (source, phase): (source, phase int, seasonal,
    datum_micros long, dt_micros double, freq int).
    """

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..functions.rolling_udf import guard_source_rows

        src = pdf[source_col].iloc[0]
        guard_source_rows(len(pdf), max_rows_per_source, src, "seasonal_fit")
        pdf = pdf.sort_values(ts_col)
        s = pd.Series(pdf[value_col].values, index=pd.DatetimeIndex(pdf[ts_col]))
        s = s.loc[s.first_valid_index(): s[::-1].first_valid_index()]
        if s.isna().any():
            raise ValueError(
                f"source {src!r}: NaN among valid values — gap-fill first "
                "(reference raises too, _transformer_1d.py:689-694)"
            )
        datum = s.index[0]
        dt = pd.Series(s.index).diff().mean()
        f = freq if freq is not None else identify_seasonal_period(s.values)
        if f is None:
            raise ValueError(f"source {src!r}: no significant seasonality found")
        if trend:
            detrended = s - _classic_trend(s, f)
            pattern = np.array([detrended.iloc[i::f].mean() for i in range(f)])
            pattern -= np.nanmean(pattern)
        else:
            pattern = np.array([s.iloc[i::f].mean() for i in range(f)])
        return pd.DataFrame(
            {
                source_col: [src] * f,
                "phase": list(range(f)),
                "seasonal": pattern,
                "datum_micros": [datum.value // 1000] * f,
                "dt_micros": [dt.value / 1000.0] * f,
                "freq": [f] * f,
            }
        )

    schema = (
        f"{source_col} string, phase int, seasonal double, "
        "datum_micros long, dt_micros double, freq int"
    )
    return df.groupBy(source_col).applyInPandas(fit, schema=schema)


def seasonal_transform(
    df: DataFrame,
    model: DataFrame,
    trend: bool = False,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    out_col: str = "residual",
) -> DataFrame:
    """ClassicSeasonalDecomposition._predict_core (_transformer_1d.py:735-824).

    Phase alignment: the reference walks a helper date_range from the
    train datum (:749-800); arithmetically that is
    ``phase = round((ts - datum)/dT) mod freq``, which works for test
    windows offset in either direction. Residual = value - seasonal
    (- centered-MA trend of the *test* series when trend=True).
    """
    # datum/dT/freq are constant per source, so the phase-0 row carries
    # them: a filter, not a shuffled aggregate over the model
    meta = model.where(F.col("phase") == 0).select(
        source_col, "datum_micros", "dt_micros", "freq")
    out = df.join(F.broadcast(meta), on=source_col, how="left")
    step = F.round(
        (F.unix_micros(F.col(ts_col).cast("timestamp")) - F.col("datum_micros"))
        / F.col("dt_micros")
    ).cast("long")
    out = out.withColumn("phase", F.pmod(step, F.col("freq")).cast("int"))
    out = out.join(
        F.broadcast(model.select(source_col, "phase", "seasonal")),
        on=[source_col, "phase"],
        how="left",
    )
    resid = F.col(value_col) - F.col("seasonal")
    drop_cols = ("phase", "seasonal", "datum_micros", "dt_micros", "freq")
    if trend:
        # centered MA of the test series, same frame logic as
        # _classic_trend. Window frames must be plan-time constants, so
        # per-source differing freqs are handled as one fixed-frame plan
        # per DISTINCT freq (a handful at most — already a small
        # collected action), filtered by freq and unioned: each source's
        # rows flow through exactly one branch, all JVM-native.
        from ..functions.windows import ROWS, _frame, _ordered

        freqs = [r["freq"] for r in meta.select("freq").distinct().collect()]
        ordered, v = _ordered(source_col, ts_col), F.col(value_col)

        def trend_col(f: int):
            def ma(lo, hi):
                w = _frame(ordered, ROWS, lo, hi)
                return F.when(F.count(v).over(w) >= f, F.avg(v).over(w))
            if f % 2:
                return ma(-(f // 2), f // 2)
            return (ma(-(f // 2), f // 2 - 1) + ma(-(f // 2) + 1, f // 2)) / 2

        parts = [
            out.where(F.col("freq") == f)
            .withColumn(out_col, F.col(value_col) - trend_col(f) - F.col("seasonal"))
            .drop(*drop_cols)
            for f in freqs
        ]
        # sources absent from the model surface freq = NULL after the
        # left join; keep their rows with a NULL residual (matching the
        # trend=False path) instead of silently dropping them
        parts.append(
            out.where(F.col("freq").isNull())
            .withColumn(out_col, F.lit(None).cast("double"))
            .drop(*drop_cols)
        )
        part = parts[0]
        for p in parts[1:]:
            part = part.unionByName(p)
        return part
    return out.withColumn(out_col, resid).drop(*drop_cols)
