"""Detector parity vs reference goldens.

Transcribed verbatim from /root/reference/tests/test_detector1d.py:20-322
(the reference's own pytest oracle). GeneralizedESDTestAD and the
SVR-regressor AutoregressionAD variants are covered separately/later.
"""

import pytest
from pyspark.sql import functions as F

from adtk_spark.operators import detectors as D
from adtk_spark.operators import hd as H
from adtk_spark.operators import transformers as T
from tests.conftest import NAN, assert_layout_invariant, assert_series, series_df

THRESH6 = [0, -10, 0, NAN, 0, 10]
IQR8 = [0, -10, 0, 0, 0, NAN, 0, 10]
PERSIST14 = [0, 1, 0, 1, 0, -10, -9, -10, -9, -10, 1, NAN, 1, 0]
PERSIST30 = PERSIST14 + [1, 0] * 8
STEP20 = [0] * 10 + [1] * 10
VOL40 = [0, 1] * 10 + [100, -100] * 10
FIB18 = [13, -8, 5, -3, 2, -1, 1, 0, 1, 1, 1, 2, 3, 5, NAN, 13, 21, 34]

LS_EXPECT = [NAN] * 3 + [0] * 6 + [1] * 3 + [0] * 6 + [NAN] * 2

CASES = [
    ("thresh_none", THRESH6, lambda df: D.threshold_ad(df),
     [0, 0, 0, NAN, 0, 0]),
    ("thresh_low", THRESH6, lambda df: D.threshold_ad(df, low=-5),
     [0, 1, 0, NAN, 0, 0]),
    ("thresh_both", THRESH6, lambda df: D.threshold_ad(df, low=-5, high=5),
     [0, 1, 0, NAN, 0, 1]),
    ("quantile_none", THRESH6, lambda df: D.quantile_ad(df),
     [0, 0, 0, NAN, 0, 0]),
    ("quantile_low", THRESH6, lambda df: D.quantile_ad(df, low=0.1),
     [0, 1, 0, NAN, 0, 0]),
    ("quantile_both", THRESH6, lambda df: D.quantile_ad(df, low=0.1, high=0.9),
     [0, 1, 0, NAN, 0, 1]),
    ("iqr_default", IQR8, lambda df: D.iqr_ad(df),
     [0, 1, 0, 0, 0, NAN, 0, 1]),
    ("iqr_high_only", IQR8, lambda df: D.iqr_ad(df, c=(None, 3)),
     [0, 0, 0, 0, 0, NAN, 0, 1]),
    ("iqr_low_only", IQR8, lambda df: D.iqr_ad(df, c=(3, None)),
     [0, 1, 0, 0, 0, NAN, 0, 0]),
    ("persist_default", PERSIST14, lambda df: D.persist_ad(df),
     [NAN, 0, 0, 0, 0, 1, 0, 0, 0, 0, 1, NAN, NAN, 0]),
    ("persist_pos", PERSIST14, lambda df: D.persist_ad(df, side="positive"),
     [NAN, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, NAN, NAN, 0]),
    ("persist_neg", PERSIST14, lambda df: D.persist_ad(df, side="negative"),
     [NAN, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, NAN, NAN, 0]),
    ("persist_w2", PERSIST30, lambda df: D.persist_ad(df, window=2),
     [NAN, NAN, 0, 0, 0, 1, 1, 0, 0, 0, 1, NAN, NAN, NAN] + [0, 0] * 8),
    ("persist_50H_mp2", PERSIST30,
     lambda df: D.persist_ad(df, window="50H", min_periods=2),
     [NAN, NAN, 0, 0, 0, 1, 1, 0, 0, 0, 1, NAN, NAN, NAN] + [0, 0] * 8),
    ("persist_w2_mp1", PERSIST30,
     lambda df: D.persist_ad(df, window=2, min_periods=1),
     [NAN, 1, 0, 0, 0, 1, 1, 0, 0, 0, 1, NAN, 0, 1] + [0, 0] * 8),
    ("persist_50H_mp1", PERSIST30,
     lambda df: D.persist_ad(df, window="50H", min_periods=1),
     [NAN, 1, 0, 0, 0, 1, 1, 0, 0, 0, 1, NAN, 0, 1] + [0, 0] * 8),
    ("persist_drift", [0, 1, 2.1, 3.3, 4.5, 5.8, 7.3],
     lambda df: D.persist_ad(df, c=1.5),
     [NAN, 0, 0, 0, 0, 0, 1]),
    ("levelshift_w3", STEP20, lambda df: D.level_shift_ad(df, window=3),
     LS_EXPECT),
    ("levelshift_72H", STEP20,
     lambda df: D.level_shift_ad(df, window="72H", min_periods=3), LS_EXPECT),
    ("levelshift_80H_72H", STEP20,
     lambda df: D.level_shift_ad(df, window=("80H", "72H"), min_periods=3), LS_EXPECT),
    ("levelshift_3_72H", STEP20,
     lambda df: D.level_shift_ad(df, window=(3, "72H"), min_periods=3), LS_EXPECT),
    ("levelshift_80H_3", STEP20,
     lambda df: D.level_shift_ad(df, window=("80H", 3), min_periods=3), LS_EXPECT),
    ("volshift_std", VOL40, lambda df: D.volatility_shift_ad(df, window=3),
     [NAN] * 3 + [0] * 15 + [1] * 5 + [0] * 15 + [NAN] * 2),
    ("volshift_iqr", VOL40,
     lambda df: D.volatility_shift_ad(df, window=3, agg="iqr"),
     [NAN] * 3 + [0] * 15 + [1] * 4 + [0] * 16 + [NAN] * 2),
    ("ar_n2", FIB18, lambda df: D.autoregression_ad(df, n_steps=2),
     [NAN, NAN, 0, 0, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0, NAN, NAN, NAN, 0]),
    ("ar_n2_pos", [13, -8, 5, -3, 2, -1, 1, 0, 1, 1, 1, 2, 3, 6, 9, 15, 24],
     lambda df: D.autoregression_ad(df, n_steps=2, side="positive"),
     [NAN, NAN, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0]),
    ("ar_n2_s2_neg", [0, 13, 1, -8, 1, 5, 2, -3, 3, 2, 5.1, -1, 8, 1, 13, 0],
     lambda df: D.autoregression_ad(df, n_steps=2, step_size=2, side="negative"),
     [NAN, NAN, NAN, NAN, 0, 0, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0]),
]


@pytest.mark.parametrize("case", CASES, ids=[c[0] for c in CASES])
def test_detector(spark, case):
    _, values, run, expected = case
    out = run(series_df(spark, values))
    assert_series(out, "label", expected)


def test_esd_ad(spark):
    # test_detector1d.py:84-97
    s = IQR8 + [0] * 10
    out = D.esd_ad(series_df(spark, s))
    assert_series(out, "label", [0, 1, 0, 0, 0, NAN, 0, 1] + [0] * 10)
    out2 = D.esd_ad(series_df(spark, s), alpha=0.0001)
    assert_series(out2, "label", [0, 0, 0, 0, 0, NAN, 0, 0] + [0] * 10)


SEASONAL84 = [1, 2, 3, 4] * 10 + [1, 3, 2, 4] + [1, 2, 3, 4] * 10
SEASONAL84_TREND = [v + i for i, v in enumerate(SEASONAL84)]

SEASONAL_CASES = [
    ("seasonal_auto", SEASONAL84, dict(),
     [0] * 40 + [0, 1, 1, 0] + [0] * 40),
    ("seasonal_f8", SEASONAL84, dict(freq=8),
     [0] * 40 + [0, 1, 1, 0] + [0] * 40),
    ("seasonal_f8_trend", SEASONAL84_TREND, dict(freq=8, trend=True),
     [NAN] * 4 + [0] * 36 + [0, 1, 1, 0] + [0] * 36 + [NAN] * 4),
    ("seasonal_f8_trend_pos", SEASONAL84_TREND, dict(freq=8, trend=True, side="positive"),
     [NAN] * 4 + [0] * 36 + [0, 1, 0, 0] + [0] * 36 + [NAN] * 4),
]


@pytest.mark.parametrize("case", SEASONAL_CASES, ids=[c[0] for c in SEASONAL_CASES])
def test_seasonal_ad(spark, case):
    _, values, kwargs, expected = case
    out = D.seasonal_ad(series_df(spark, values), **kwargs)
    assert_series(out, "label", expected)


def test_cusum_matches_recursion(spark):
    """Window-native CUSUM (prefix-sum minus running-min closed form)
    equals the textbook max(0, S + dev) recursion point-for-point, and
    flags the mean shift."""
    import datetime as dt

    from adtk_spark.operators.detectors import cusum_ad, cusum_ad_fit

    t0 = dt.datetime(2025, 1, 1)
    vals = [10.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0,
            13.0, 13.5, 13.2, 12.9, 13.1, 13.4, 12.8, 13.0]
    rows = [("s", t0 + dt.timedelta(minutes=i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    # whole-series fit: verify the closed form == the recursion exactly
    model = cusum_ad_fit(df).collect()[0]
    mu, sigma = model["mu"], model["sigma"]
    k, h = 0.5 * sigma, 2.0 * sigma
    sp = sm = 0.0
    exp = []
    for v in vals:
        sp = max(0.0, sp + v - mu - k)
        sm = max(0.0, sm + mu - k - v)
        exp.append((sp, sm, 1.0 if (sp > h or sm > h) else 0.0))
    got = [(r["sp"], r["sm"], r["label"]) for r in
           cusum_ad(df, k_sigmas=0.5, h_sigmas=2.0).orderBy("ts").collect()]
    for (gsp, gsm, gl), (esp, esm, el) in zip(got, exp):
        assert abs(gsp - esp) < 1e-9 and abs(gsm - esm) < 1e-9 and gl == el
    # proper usage: fit on the clean train prefix, detect on the full
    # series — pre-shift rows stay quiet, the shift is flagged
    from adtk_spark.operators.detectors import cusum_ad_detect

    train = df.limit(8)
    out = [r["label"] for r in
           cusum_ad_detect(df, cusum_ad_fit(train), 0.5, 4.0)
           .orderBy("ts").collect()]
    assert all(l == 0.0 for l in out[:8])
    assert any(l == 1.0 for l in out[8:])
    # real-valued input: mu/sigma are identical at any partitioning
    import random

    rng = random.Random(129)
    noisy = spark.createDataFrame(
        [(s, t0 + dt.timedelta(minutes=i), rng.gauss(10.0, 3.0))
         for s in ("a", "b", "c") for i in range(300)],
        "source string, ts timestamp, value double")
    assert_layout_invariant(spark, noisy, cusum_ad_fit)


def test_robust_zscore_vs_numpy(spark):
    """Median/MAD rule equals the numpy re-derivation, and is immune to
    the contamination that drags a mean/std rule (the outlier inflates
    std enough to hide itself at z=3.5 but cannot move the MAD)."""
    import datetime as dt

    import numpy as np

    from adtk_spark.operators.detectors import robust_zscore_ad

    rng = np.random.RandomState(3)
    vals = list(10.0 + rng.randn(60).round(3))
    vals[30] = 200.0  # one gross outlier
    t0 = dt.datetime(2025, 1, 1)
    rows = [("s", t0 + dt.timedelta(minutes=i), float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    got = [r["label"] for r in robust_zscore_ad(df, z=3.5).orderBy("ts").collect()]

    a = np.array(vals)
    med = np.quantile(a, 0.5)  # type-7, matches exact_quantile_agg
    mad = np.quantile(np.abs(a - med), 0.5)
    exp = (np.abs(a - med) > 3.5 * (1.4826 * mad)).astype(float)
    assert got == list(exp)
    assert got[30] == 1.0
    # the mean/std z-score would NOT flag it at the same z on this data
    z_classic = abs(a[30] - a.mean()) / a.std(ddof=1)
    assert z_classic < 8  # grossly deflated vs the robust score


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=10, deadline=None)
@given(vals=st.lists(
    st.one_of(st.none(), st.integers(min_value=-20, max_value=20)),
    min_size=3, max_size=24))
def test_cusum_closed_form_property(spark, vals):
    """Property: the window-native closed form equals the textbook
    recursion on arbitrary series including NULL runs (NULL -> NaN
    label, transparent to the cumsums)."""
    import datetime as dt
    import math

    from adtk_spark.operators.detectors import cusum_ad, cusum_ad_fit

    if all(v is None for v in vals):
        return
    t0 = dt.datetime(2025, 1, 1)
    rows = [("s", t0 + dt.timedelta(minutes=i),
             None if v is None else float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    m = cusum_ad_fit(df).collect()[0]
    mu, sigma = m["mu"], m["sigma"]
    k, h = 0.5 * sigma, 2.0 * sigma
    sp = sm = 0.0
    seen = False  # before any valid value the cumsums are NULL (empty SUM)
    exp = []
    for v in vals:
        if v is not None:
            seen = True
            sp = max(0.0, sp + v - mu - k)
            sm = max(0.0, sm + mu - k - v)
        exp.append((
            (sp, sm) if seen else (None, None),
            None if v is None else (1.0 if (sp > h or sm > h) else 0.0),
        ))
    got = [(r["sp"], r["sm"], r["label"]) for r in
           cusum_ad(df, 0.5, 2.0).orderBy("ts").collect()]
    for (gsp, gsm, gl), ((esp, esm), el) in zip(got, exp):
        if esp is None:
            assert gsp is None and gsm is None, vals
        else:
            assert abs(gsp - esp) < 1e-9 and abs(gsm - esm) < 1e-9, vals
        assert gl == el, vals


def test_hot_source_guard_on_grouped_map_fits(spark):
    """max_rows_per_source arms guard_source_rows inside the per-source
    applyInPandas fits: a source exceeding the cap fails fast with a
    tier-routing hint instead of buffering the whole series in one task;
    under the cap the fits behave identically to unguarded runs."""
    import datetime as dt

    import pytest

    from adtk_spark.functions.rolling_udf import rolling_agg_callable
    from adtk_spark.operators.detectors import esd_ad_fit
    from adtk_spark.operators.transformers import seasonal_fit

    t0 = dt.datetime(2025, 1, 1)
    rows = [("hot", t0 + dt.timedelta(hours=i),
             float(i % 4) + (1.0 if i % 8 == 0 else 0.0)) for i in range(64)]
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")

    for build in (
        lambda d, cap: esd_ad_fit(d, max_rows_per_source=cap),
        lambda d, cap: seasonal_fit(d, freq=4, max_rows_per_source=cap),
        lambda d, cap: rolling_agg_callable(
            d, 4, lambda s: s.mean(), None, False, None,
            max_rows_per_source=cap),
    ):
        with pytest.raises(Exception, match="max_rows_per_source"):
            build(df, 32).collect()
        assert build(df, 1000).count() > 0  # under the cap: unaffected


def test_trailing_percentile_ad_regime_shift(spark):
    """A spike is flagged against the trailing distribution; after a
    sustained regime shift the detector re-baselines (late normal
    points at the new level are NOT flagged — the QuantileAD failure
    mode); warm-up rows carry NULL labels; partitioning-invariant."""
    import datetime as dt

    from adtk_spark.operators.detectors import trailing_percentile_ad

    t0 = dt.datetime(2025, 1, 1)
    vals = [10.0 + (i % 5) * 0.1 for i in range(30)]     # calm regime
    vals[27] = 99.0                                      # spike
    vals += [100.0 + (i % 5) * 0.1 for i in range(40)]   # shifted regime
    rows = [("a", t0 + dt.timedelta(hours=i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    out = {r["ts"]: r for r in
           trailing_percentile_ad(df, window=24, q=0.95).collect()}
    by_i = [out[t0 + dt.timedelta(hours=i)] for i in range(len(vals))]
    assert all(r["label"] is None for r in by_i[:24])          # warm-up
    assert by_i[27]["label"] is True and by_i[27]["rank_frac"] == 1.0
    assert by_i[30]["label"] is True                           # shift onset
    # re-baselined: the flood stops — only the recurring cycle maxima
    # (rank 1.0 of their trailing window by construction) stay flagged,
    # every non-max point at the NEW level is clean
    late = by_i[60:]
    assert sum(r["label"] for r in late) <= len(late) // 4
    assert all(r["label"] is False for r in late
               if r["value"] < 100.4)
    out2 = {r["ts"]: tuple(r) for r in
            trailing_percentile_ad(df.repartition(7), window=24,
                                   q=0.95).collect()}
    assert out2 == {k: tuple(v) for k, v in out.items()}


def test_peak_detection_unique_max_rule(spark):
    """Two bumps far apart are both found; two competing bumps within
    min_distance yield only the taller; an equal-height plateau pair is
    suppressed by uniqueness; height floor filters small bumps;
    partitioning-invariant."""
    import datetime as dt

    from adtk_spark.operators.detectors import peak_detection

    t0 = dt.datetime(2025, 1, 1)
    vals = [0.0] * 60
    vals[10] = 5.0                       # clear peak
    vals[40] = 7.0; vals[43] = 6.0       # within distance 5: keep 7.0
    vals[52] = 4.0; vals[53] = 4.0       # plateau pair: suppressed
    rows = [("a", t0 + dt.timedelta(hours=i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    got = {(r["ts"] - t0).total_seconds() / 3600: r["local_rise"]
           for r in peak_detection(df, min_distance=5).collect()}
    assert set(got) == {10.0, 40.0}
    assert got[10.0] == 5.0 and got[40.0] == 7.0
    tall = peak_detection(df, min_distance=5, height=6.0).collect()
    assert [(r["value"]) for r in tall] == [7.0]
    got2 = {(r["ts"] - t0).total_seconds() / 3600: r["local_rise"]
            for r in peak_detection(df.repartition(9), min_distance=5).collect()}
    assert got2 == got


# the compound trio's fit_detect wrappers vs their fit + detect pairs
COMPOUND = {
    "persist_ad": (
        lambda d: D.persist_ad(d, window=2, c=1.5),
        lambda d: D.persist_ad_detect(d, D.persist_ad_fit(d, 2, 1.5), 2)),
    "persist_ad_pos": (
        lambda d: D.persist_ad(d, window=3, c=1.0, side="positive"),
        lambda d: D.persist_ad_detect(d, D.persist_ad_fit(d, 3, 1.0), 3,
                                      "positive")),
    "level_shift_ad": (
        lambda d: D.level_shift_ad(d, window=4, c=1.0),
        lambda d: D.level_shift_ad_detect(d, D.level_shift_ad_fit(d, 4, 1.0), 4)),
    "volatility_shift_ad": (
        lambda d: D.volatility_shift_ad(d, window=5, c=1.0),
        lambda d: D.volatility_shift_ad_detect(
            d, D.volatility_shift_ad_fit(d, 5, 1.0), 5)),
    "volatility_shift_ad_idr_neg": (
        lambda d: D.volatility_shift_ad(d, window=10, c=0.5, side="negative",
                                        agg="idr"),
        lambda d: D.volatility_shift_ad_detect(
            d, D.volatility_shift_ad_fit(d, 10, 0.5, agg="idr"), 10, "negative",
            agg="idr")),
    "seasonal_ad": (
        lambda d: D.seasonal_ad(_gapless(d), freq=6, c=1.5),
        lambda d: _fit_then_detect(_seasonal_resid(_gapless(d), 6), (None, 1.5))),
    "regression_ad": (
        lambda d: H.regression_ad(_wide(d), "value", ["x"], c=1.0, side="negative"),
        lambda d: _fit_then_detect(_regression_resid(_wide(d)), (None, 1.0),
                                   "negative")),
    "pca_ad": (
        lambda d: H.pca_ad(_wide(d), ["value", "x"], c=1.0),
        lambda d: _fit_then_detect(_pca_err(_wide(d)), (1.0, 1.0))),
}


def _wide(d):
    # the wide-table fits need a value in every source: drop the empty
    # one and add a second feature, twice the value but for a bump every
    # 11 minutes (the residual and reconstruction-error outliers)
    bump = F.when(F.minute("ts") % 11 == 0, 6.0).otherwise(0.0)
    return (d.where(~F.col("source").eqNullSafe("c"))
            .withColumn("x", F.col("value") * 2.0 + bump))


def _gapless(d):
    # the seasonal fit needs gap-filled series
    return _wide(d).drop("x").fillna(2.0, ["value"])


def _seasonal_resid(d, freq):
    r = T.seasonal_transform(d, T.seasonal_fit(d, freq=freq), out_col="_diff")
    return r.withColumn("_mag", F.abs("_diff"))


def _regression_resid(d):
    model = H.regression_residual_fit(d, "value", ["x"])
    r = H.regression_residual(d, model, "value", ["x"], out_col="_diff")
    return r.withColumn("_mag", F.abs("_diff"))


def _pca_err(d):
    feats = ["value", "x"]
    r = H.pca_reconstruction_error(d, H.pca_fit(d, feats), feats, out_col="_mag")
    return r.withColumn("_diff", F.col("_mag"))


def _fit_then_detect(r, c, side="both"):
    # IQR bounds fitted on the residual's magnitude, then a broadcast join
    bounds = D.iqr_ad_fit(r, c=c, value_col="_mag")
    return D._compound_detect(r, bounds, side, source_col="source", out_col="label")


def _compound_series(spark, seed):
    """Tie-heavy minute series: values from a few levels (so ``_mag``
    repeats), level steps, spikes and NULLs, plus a NULL-source series
    and one source with no values at all."""
    import datetime as dt
    import random

    rng = random.Random(seed)
    t0 = dt.datetime(2025, 1, 1)
    rows = []
    for s in ("a", "b", None, "c"):
        for i in range(90):
            v = None if s == "c" or rng.random() < 0.06 else float(
                rng.choice([1, 2, 2, 3]) + (8 if i >= 45 else 0)
                + (30 if rng.random() < 0.04 else 0))
            rows.append((s, t0 + dt.timedelta(minutes=i), v))
    return spark.createDataFrame(rows, "source string, ts timestamp, value double")


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("name", sorted(COMPOUND))
def test_compound_fit_detect_matches_fit_then_detect(spark, name):
    fit_detect, pair = COMPOUND[name]
    df = _compound_series(spark, 20251017)
    got, want = fit_detect(df), pair(df)
    assert got.columns == want.columns
    rows = _rows(got)
    assert rows == _rows(want)
    labels = [r[-1] for r in rows]
    assert 1.0 in labels and 0.0 in labels
    # the NULL source keeps NULL bounds, so it is never flagged
    assert all(r[-1] != 1.0 for r in rows if r[0] is None)


@pytest.mark.parametrize("name", ["persist_ad", "level_shift_ad",
                                  "volatility_shift_ad"])
def test_compound_fit_detect_partition_invariant(spark, name):
    """Identical rows whatever the input partitioning (1 vs 13) and the
    shuffle width (1 vs 7, with AQE coalescing off so the width is
    really used)."""
    fit_detect, _ = COMPOUND[name]
    assert_layout_invariant(spark, _compound_series(spark, 7), fit_detect)


@pytest.mark.parametrize("call", [
    lambda d: D.level_shift_ad(d, 5, value_column="nope"),
    lambda d: D.level_shift_ad_fit(d, 5, value_column="nope"),
    lambda d: D.level_shift_ad_detect(d, d, 5, value_column="nope"),
    lambda d: D.volatility_shift_ad(d, 5, value_column="nope"),
    lambda d: D.volatility_shift_ad_fit(d, 5, value_column="nope"),
    lambda d: D.volatility_shift_ad_detect(d, d, 5, value_column="nope"),
], ids=["level_shift_ad", "level_shift_ad_fit", "level_shift_ad_detect",
        "volatility_shift_ad", "volatility_shift_ad_fit",
        "volatility_shift_ad_detect"])
def test_shift_detectors_reject_unknown_keywords(spark, call):
    """A misspelled column keyword fails instead of silently reading
    the default ``value`` column."""
    with pytest.raises(TypeError, match="value_column"):
        call(series_df(spark, STEP20))


def test_persist_ad_keyword_errors_name_persist_ad(spark):
    """persist_ad's bad keywords are reported against persist_ad itself,
    and its out_col is honored."""
    df = series_df(spark, PERSIST14)
    with pytest.raises(TypeError, match=r"^persist_ad\(\) got an unexpected"):
        D.persist_ad(df, value_column="nope")
    assert D.persist_ad(df, out_col="flag").columns[-1] == "flag"


def test_volatility_shift_ad_detect_checks_agg(spark):
    """The train/test detect rejects a non-volatility agg as the fit does."""
    df = series_df(spark, VOL40)
    bounds = D.volatility_shift_ad_fit(df, 3)
    with pytest.raises(ValueError, match="agg must be"):
        D.volatility_shift_ad_detect(df, bounds, 3, agg="mean")


def test_autoregression_ad_honors_out_col(spark):
    """autoregression_ad's out_col reaches the detect, not the fit (which
    raised TypeError), and labels as the default column does."""
    df = series_df(spark, FIB18)
    out = D.autoregression_ad(df, n_steps=2, out_col="flag")
    assert out.columns[-1] == "flag" and "label" not in out.columns
    want = D.autoregression_ad(df, n_steps=2).select("source", "ts", "label")
    assert _rows(out.select("source", "ts", "flag")) == _rows(want)


def test_esd_ad_rejects_unknown_keywords(spark):
    """A misspelled keyword raises instead of being dropped (esd_ad
    labelled the ``value`` column)."""
    with pytest.raises(TypeError, match=r"^esd_ad\(\) got an unexpected"):
        D.esd_ad(series_df(spark, IQR8 + [0] * 10), value_column="nope")


HD = {
    "regression_ad": (lambda d: H.regression_ad(d, "value", ["x"], c=1.0),
                      lambda d: H.regression_residual_fit(d, "value", ["x"])),
    "pca_ad": (lambda d: H.pca_ad(d, ["value", "x"], c=1.0),
               lambda d: H.pca_fit(d, ["value", "x"])),
}


@pytest.mark.parametrize("name", sorted(HD))
def test_hd_empty_source_gets_null_model(spark, name):
    """A source with no valid row gets a NULL model row, as the 1-D fits
    give NULL bounds: the other source labels as it does alone, the empty
    one gets NULL labels, and require_fit names it."""
    run, fit = HD[name]
    one = _wide(_compound_series(spark, 5).where(F.col("source") == "a"))
    empty = one.select(F.lit("c").alias("source"), "ts",
                       F.lit(None).cast("double").alias("value"),
                       F.lit(None).cast("double").alias("x"))
    both = one.unionByName(empty)

    def labels(df):
        return {(r["source"], r["ts"]): r["label"] for r in run(df).collect()}

    got, want = labels(both), labels(one)
    assert {k: v for k, v in got.items() if k[0] == "a"} == want
    assert 1.0 in want.values() and 0.0 in want.values()
    assert {v for k, v in got.items() if k[0] == "c"} == {None}
    with pytest.raises(RuntimeError, match="'c'"):
        D.require_fit(fit(both))
    D.require_fit(fit(one))
