"""HD detectors, Customized escape hatch, Pipenet composition.

Goldens transcribed from /root/reference/tests/test_detectorhd.py and
tests/test_detector1d.py (Customized cases); Pipenet from test_pipe.py.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from adtk_spark.operators import custom as C
from adtk_spark.operators import hd as H
from tests.conftest import NAN, assert_layout_invariant, assert_series, series_df


def wide_df(spark, cols: dict, start="2017-01-01"):
    t0 = dt.datetime.fromisoformat(start)
    names = list(cols)
    n = len(next(iter(cols.values())))
    rows = []
    for src in ("A", "B"):
        for i in range(n):
            vals = [
                None if (cols[c][i] is None or cols[c][i] != cols[c][i]) else float(cols[c][i])
                for c in names
            ]
            rows.append((src, t0 + dt.timedelta(days=i), *vals))
    schema = "source string, ts timestamp, " + ", ".join(f"{c} double" for c in names)
    return spark.createDataFrame(rows, schema)


REG_DF = {
    "a": [0, 1, 2, 3, 4, 5, 6, 7, 7, 8, 9],
    "b": [0, 2, 4, 6, 8, 10, 12, 14, 14, 16, 18],
    "c": [0, 3, 6, 10, 12, 14, 18, 21, NAN, 24, 27],
}


def test_regression_ad(spark):
    # test_detectorhd.py:136-173
    df = wide_df(spark, REG_DF)
    out = H.regression_ad(df, target="c", features=["a", "b"], c=3.0)
    assert_series(out, "label", [0, 0, 0, 1, 0, 1, 0, 0, NAN, 0, 0])
    out2 = H.regression_ad(df, target="c", features=["a", "b"], side="negative")
    assert_series(out2, "label", [0, 0, 0, 0, 0, 1, 0, 0, NAN, 0, 0])
    out3 = H.regression_ad(df, target="c", features=["a", "b"], side="negative", c=100)
    assert_series(out3, "label", [0, 0, 0, 0, 0, 0, 0, 0, NAN, 0, 0])


def test_pca_ad(spark):
    # test_detectorhd.py:175-186
    df = wide_df(spark, {
        "a": [0, 1, 2, 3, 3.9, 4.1, 5, 6, 7, 7, 8, 9],
        "b": [0, 1, 2, 3, 4.1, 3.9, 5, 6, 7, NAN, 8, 9],
    })
    out = H.pca_ad(df, features=["a", "b"], k=1, c=3)
    assert_series(out, "label", [0, 0, 0, 0, 1, 1, 0, 0, 0, NAN, 0, 0])


def test_min_cluster_ad(spark):
    # test_detectorhd.py:94-108 (KMeans n_clusters=2)
    df = wide_df(spark, {
        "a": [0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0],
        "b": [0, 0, 0, 0, 0, 1, 0, 0, 0, NAN, 0, 0],
    })
    out = H.min_cluster_ad(df, features=["a", "b"], n_clusters=2)
    assert_series(out, "label", [0, 0, 0, 0, 0, 1, 0, 0, 0, NAN, 0, 0])


def test_customized_detector_1d(spark):
    # test_detector1d.py:262-321 (representative cases)
    s = [0, 0, 0, 0, 0, 1, 0, 0, 0, -1, 0]
    df = series_df(spark, s)
    out = C.customized_detector(df, lambda x: x > 0)
    assert_series(out, "label", [0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0])
    out2 = C.customized_detector(
        df,
        lambda x, a, b: (x > a) | (x < b),
        detect_func_params={"b": -0.5},
        fit_func=lambda x, q: {"a": float(x.quantile(q))},
        fit_func_params={"q": 0.5},
    )
    assert_series(out2, "label", [0, 0, 0, 0, 0, 1, 0, 0, 0, 1, 0])


def test_customized_detector_hd(spark):
    # test_detectorhd.py:18-93 (representative case)
    df = wide_df(spark, {
        "a": [0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0],
        "b": [0, 0, 0, 0, 0, 0, 0, 0, 0, -1, 0],
    })
    out = C.customized_detector(
        df,
        lambda x, a, b: (x.sum(axis=1) > a) | (x.sum(axis=1) < b),
        detect_func_params={"b": -0.5},
        fit_func=lambda x: {"a": float(x.sum(axis=1).median())},
        value_cols=["a", "b"],
    )
    assert_series(out, "label", [0, 0, 0, 0, 0, 1, 0, 0, 0, 1, 0])


def test_pipenet_compound(spark):
    """A Pipenet replicating PersistAD's DAG shape must agree with the
    built-in persist_ad on the same series."""
    from adtk_spark.operators.detectors import persist_ad
    from adtk_spark.operators.pipe import Pipeline, Pipenet

    values = [0, 1, 0, 1, 0, -10, -9, -10, -9, -10, 1, NAN, 1, 0]
    df = series_df(spark, values)
    direct = persist_ad(df, window=1)

    net = Pipenet({
        "detect": {"fn": lambda d: persist_ad(d, window=1), "input": "original"},
    })
    via_net = net.run(df)
    a = [r["label"] for r in direct.where("source='A'").orderBy("ts").collect()]
    b = [r["label"] for r in via_net.where("source='A'").orderBy("ts").collect()]
    assert a == b

    chain = Pipeline([
        ("scale", lambda d: __import__("adtk_spark.operators.transformers",
                                       fromlist=["standard_scale"]).standard_scale(d)),
    ])
    out = chain.run(df)
    assert "scaled" in out.columns

    with pytest.raises(ValueError, match="cycle"):
        Pipenet({
            "x": {"fn": lambda d: d, "input": "y"},
            "y": {"fn": lambda d: d, "input": "x"},
        })

    with pytest.raises(ValueError, match="unknown input"):
        Pipenet({"x": {"fn": lambda d: d, "input": "nope"}})


def test_pca_reconstruction(spark):
    # test_transformerhd.py:228-238 (k=1 reconstruction golden)
    df = wide_df(spark, {
        "a": [0, 1, 2, 3, 3.9, 4.1, 5, 6, 7, 7, 8, 9],
        "b": [0, 1, 2, 3, 4.1, 3.9, 5, 6, 7, NAN, 8, 9],
    })
    model = H.pca_fit(df, features=["a", "b"], k=1)
    out = H.pca_reconstruction(df, model, features=["a", "b"], k=1)
    want = [0, 1, 2, 3, 4, 4, 5, 6, 7, NAN, 8, 9]
    assert_series(out, "a_recon", want, tol=1e-6)
    assert_series(out, "b_recon", want, tol=1e-6)


def test_outlier_detector(spark):
    # test_detectorhd.py:109-134 semantics: wrapped model returns -1 for
    # outliers on the dropna rows; NULL rows stay NULL
    df = wide_df(spark, {
        "a": [0, 0, 0, 0, 0, 1, 0, 0, 0, NAN, 0, 0],
    })

    def flag_far_from_median(sub):
        med = sub["a"].median()
        return [(-1 if abs(v - med) > 0.5 else 1) for v in sub["a"]]

    out = H.outlier_detector(df, flag_far_from_median, features=["a"])
    assert_series(out, "label", [0, 0, 0, 0, 0, 1, 0, 0, 0, NAN, 0, 0])


def test_customized_aggregator(spark):
    # aggregator/_aggregator.py:15-79: user fn over the label frame;
    # row-wise max === OR on {0,1} labels
    df = wide_df(spark, {
        "l1": [0, 1, 0, 1, 0, 0],
        "l2": [0, 0, 1, 1, 0, 0],
    })
    out = C.customized_aggregator(df, lambda x: x.max(axis=1),
                                  label_cols=["l1", "l2"])
    assert_series(out, "label", [0, 1, 1, 1, 0, 0])


def test_pipenet_kind_validation(spark):
    """Edge-compatibility parity with the reference Pipenet
    (_pipe.py:692-739): transformer/detector after aggregator and
    aggregator fed by "original" or a transformer must be rejected."""
    from adtk_spark.operators.pipe import Pipenet

    ident = lambda df: df  # noqa: E731
    # detector downstream of an aggregator -> invalid
    with pytest.raises(TypeError, match="cannot accept"):
        Pipenet({
            "det": {"fn": ident, "kind": "detector"},
            "agg": {"fn": ident, "input": "det", "kind": "aggregator"},
            "det2": {"fn": ident, "input": "agg", "kind": "detector"},
        })
    # aggregator fed by the original series -> invalid
    with pytest.raises(TypeError, match="original"):
        Pipenet({"agg": {"fn": ident, "kind": "aggregator"}})
    # aggregator fed by a transformer -> invalid
    with pytest.raises(TypeError, match="cannot accept"):
        Pipenet({
            "tr": {"fn": ident, "kind": "transformer"},
            "agg": {"fn": ident, "input": "tr", "kind": "aggregator"},
        })
    # the canonical valid shape builds fine
    Pipenet({
        "tr": {"fn": ident, "kind": "transformer"},
        "d1": {"fn": ident, "input": "tr", "kind": "detector"},
        "d2": {"fn": ident, "input": "original", "kind": "detector"},
        "agg": {"fn": ident, "input": ["d1", "d2"], "kind": "aggregator"},
    })
    # unknown kind string -> ValueError
    with pytest.raises(ValueError, match="kind"):
        Pipenet({"x": {"fn": ident, "kind": "detektor"}})


def test_pipenet_summary_golden():
    """Golden summary for the pipenet_chain DAG shape (r03 VERDICT
    item #6) plus a multi-input/subset step — matches the reference's
    Pipenet.summary step table (_pipe.py:1357-1376)."""
    from adtk_spark.operators.pipe import Pipenet

    ident = lambda d: d  # noqa: E731
    net = Pipenet({
        "smooth": {"fn": ident, "kind": "transformer"},
        "det": {"fn": ident, "input": "smooth", "kind": "detector"},
    })
    assert net.summary() == (
        "step                    kind          input                           subset\n"
        "smooth                  transformer   original                        -\n"
        "det                     detector      smooth                          -"
    )

    fan = Pipenet({
        "t1": {"fn": ident, "kind": "transformer", "subset": ["value"]},
        "d1": {"fn": ident, "input": "t1", "kind": "detector"},
        "d2": {"fn": ident, "input": "t1", "kind": "detector"},
        "agg": {"fn": ident, "input": ["d1", "d2"], "kind": "aggregator"},
    })
    lines = fan.summary().splitlines()
    assert lines[1].split() == ["t1", "transformer", "original", "value"]
    assert lines[-1].split() == ["agg", "aggregator", "d1,", "d2", "-"]


def test_lagged_corr_shifted_copy(spark):
    """b[t] = a[t-1]: corr must be exactly 1.0 at lag +1 and below 1
    elsewhere; n shrinks by the overlap at each lag."""
    import datetime as dt

    import numpy as np

    from adtk_spark.operators.hd import lagged_corr

    rng = np.random.RandomState(11)
    t0 = dt.datetime(2025, 1, 1)
    vals = [float(v) for v in rng.randn(40)]
    rows = [("a", t0 + dt.timedelta(hours=i), vals[i]) for i in range(40)]
    rows += [("b", t0 + dt.timedelta(hours=i + 1), vals[i]) for i in range(40)]
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    out = {r["lag"]: (r["n"], r["corr"]) for r in
           lagged_corr(df, "a", "b", lags=[-1, 0, 1, 2], step_secs=3600).collect()}
    assert out[1][1] == 1.0 and out[1][0] == 40
    assert abs(out[0][1]) < 0.5 and out[0][0] == 39
    assert abs(out[-1][1]) < 0.5 and out[2][0] == 39
    # real-valued input around 1e6, where the moment sums cancel: a
    # double sum would change with the partitioning, the exact one not
    noisy = spark.createDataFrame(
        [(s, t0 + dt.timedelta(hours=i), float(v))
         for s in ("a", "b") for i, v in enumerate(1e6 + rng.randn(300))],
        "source string, ts timestamp, value double")
    assert_layout_invariant(spark, noisy, lambda d: lagged_corr(
        d, "a", "b", lags=[-2, 0, 1, 5], step_secs=3600))


def test_min_cluster_ad_blobs_and_nulls(spark):
    """MinClusterDetector's fixed-point fit: the small blob is
    anomalous, NULL features yield NULL labels, and the labels do not
    depend on the input partitioning or the shuffle width."""
    import random

    from adtk_spark.operators.hd import min_cluster_ad

    t0 = dt.datetime(2025, 1, 1)
    rows = []
    for i in range(20):
        rows.append(("all", t0 + dt.timedelta(minutes=i), 0.1 * (i % 3), 0.1 * (i % 5)))
    for i in range(5):
        rows.append(("all", t0 + dt.timedelta(minutes=100 + i), 10.0 + 0.1 * i, 10.0 - 0.1 * i))
    rows.append(("all", t0 + dt.timedelta(minutes=200), None, 5.0))
    df = spark.createDataFrame(rows, "source string, ts timestamp, a double, b double")
    out = {r["ts"]: r["label"]
           for r in min_cluster_ad(df, ["a", "b"], n_clusters=2).collect()}
    assert sum(1 for v in out.values() if v == 1.0) == 5
    assert out[t0 + dt.timedelta(minutes=200)] is None
    for i in range(5):
        assert out[t0 + dt.timedelta(minutes=100 + i)] == 1.0
    # 300 rows in three Gaussian blobs of 150, 100 and 50 points: every
    # layout flags exactly the 50-point blob (an init drawn from the row
    # order would change with the partitioning)
    rng = random.Random(263)
    blobs = [((0.0, 0.0), 150), ((6.0, 6.0), 100), ((12.0, 0.0), 50)]
    pts = [(cx, cy) for (cx, cy), n in blobs for _ in range(n)]
    three = spark.createDataFrame(
        [("all", t0 + dt.timedelta(minutes=i), rng.gauss(cx, 1.0), rng.gauss(cy, 1.0))
         for i, (cx, cy) in enumerate(pts)],
        "source string, ts timestamp, a double, b double")
    got = assert_layout_invariant(spark, three, lambda d: min_cluster_ad(
        d, ["a", "b"], n_clusters=3).select("ts", "label"))
    flagged = sorted(ts for ts, label in got if label == 1.0)
    assert flagged == [t0 + dt.timedelta(minutes=i) for i in range(250, 300)]


def test_corr_matrix_known_relationships(spark):
    """c = -a (corr exactly -1), b = a shifted by one bucket (|corr| < 1
    on the aligned grid), d overlaps a on only 3 buckets (dropped by
    min_n=4); upper triangle only, partitioning-invariant."""
    import datetime as dt

    import numpy as np

    from adtk_spark.operators.hd import corr_matrix

    rng = np.random.RandomState(7)
    t0 = dt.datetime(2025, 1, 1)
    vals = [float(v) for v in rng.randn(30)]
    rows = [("a", t0 + dt.timedelta(hours=i), vals[i]) for i in range(30)]
    rows += [("c", t0 + dt.timedelta(hours=i), -vals[i]) for i in range(30)]
    rows += [("b", t0 + dt.timedelta(hours=i + 1), vals[i]) for i in range(30)]
    rows += [("d", t0 + dt.timedelta(hours=i), vals[i] * 2.0) for i in range(3)]
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    out = {(r["source_a"], r["source_b"]): (r["n"], r["corr"])
           for r in corr_matrix(df, min_n=4).collect()}
    assert all(a < b for a, b in out)                 # upper triangle
    assert not any("d" in p for p in out)             # min_n drop
    assert out[("a", "c")] == (30, -1.0)
    assert out[("a", "b")][0] == 29 and abs(out[("a", "b")][1]) < 1.0
    out2 = {(r["source_a"], r["source_b"]): (r["n"], r["corr"])
            for r in corr_matrix(df.repartition(13), min_n=4).collect()}
    assert out == out2


def test_hurst_exponent_noise_vs_persistent(spark):
    """iid noise sits near H=0.5 (classical R/S small-sample bias pulls
    it slightly high); an integrated random walk and a strong trend sit
    near H=1; short series (< 2 full block sizes) emit nothing;
    partitioning-invariant."""
    import datetime as dt

    import numpy as np

    from adtk_spark.operators.hd import hurst_exponent

    rng = np.random.RandomState(3)
    t0 = dt.datetime(2025, 1, 1)
    noise = rng.randn(1024)
    walk = np.cumsum(noise)
    rows = [("noise", t0 + dt.timedelta(hours=i), float(noise[i]))
            for i in range(1024)]
    rows += [("walk", t0 + dt.timedelta(hours=i), float(walk[i]))
             for i in range(1024)]
    rows += [("short", t0 + dt.timedelta(hours=i), float(i % 7))
             for i in range(10)]
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    out = {r["source"]: r for r in hurst_exponent(df).collect()}
    assert set(out) == {"noise", "walk"}
    assert 0.45 < out["noise"]["hurst"] < 0.7
    assert out["walk"]["hurst"] > 0.9
    assert out["noise"]["n_sizes"] == 4
    out2 = {r["source"]: tuple(r)
            for r in hurst_exponent(df.repartition(11)).collect()}
    assert out2 == {k: tuple(v) for k, v in out.items()}


def test_acf_period_discovery(spark):
    """A clean period-4 cycle has ACF 1.0 at lags 4 and 8, strongly
    negative at the half-period; all sources computed in one call;
    partitioning-invariant."""
    import datetime as dt

    from adtk_spark.operators.hd import acf

    t0 = dt.datetime(2025, 1, 1)
    cyc = [0.0, 1.0, 0.0, -1.0]
    rows = [("c4", t0 + dt.timedelta(hours=i), cyc[i % 4]) for i in range(64)]
    import numpy as np
    noise = np.random.RandomState(17).randn(64)
    rows += [("flatline_noise", t0 + dt.timedelta(hours=i), float(noise[i]))
             for i in range(64)]
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    out = {(r["source"], r["lag"]): r["acf"]
           for r in acf(df, lags=[1, 2, 4, 8], step_secs=3600).collect()}
    assert out[("c4", 4)] == 1.0 and out[("c4", 8)] == 1.0
    assert out[("c4", 2)] == -1.0                   # half period
    assert abs(out[("flatline_noise", 4)]) < 0.5    # no period-4 structure
    out2 = {(r["source"], r["lag"]): r["acf"]
            for r in acf(df.repartition(9), lags=[1, 2, 4, 8],
                         step_secs=3600).collect()}
    assert out2 == out


def test_rolling_corr_decoupling(spark):
    """b tracks a for 48 buckets then decouples to noise: the trailing
    corr starts near 1 and collapses after the break; warm-up rows
    NULL; two pairs computed in one call; partitioning-invariant."""
    import datetime as dt

    import numpy as np

    from adtk_spark.operators.hd import rolling_corr

    rng = np.random.RandomState(2)
    t0 = dt.datetime(2025, 1, 1)
    a = rng.randn(96).cumsum()
    b = np.concatenate([a[:48] * 2.0 + 1.0,           # coupled
                        rng.randn(48).cumsum() + 50])  # decoupled
    c = rng.randn(96)
    rows = [("a", t0 + dt.timedelta(hours=i), float(a[i])) for i in range(96)]
    rows += [("b", t0 + dt.timedelta(hours=i), float(b[i])) for i in range(96)]
    rows += [("c", t0 + dt.timedelta(hours=i), float(c[i])) for i in range(96)]
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    out = rolling_corr(df, [("a", "b"), ("a", "c")], window=12).collect()
    ab = {(r["ts"] - t0).total_seconds() / 3600: r["corr"]
          for r in out if r["source_b"] == "b"}
    assert ab[5.0] is None                       # warm-up
    assert ab[40.0] > 0.999                      # coupled window
    assert ab[70.0] < 0.9                        # decoupled
    pairs = {(r["source_a"], r["source_b"]) for r in out}
    assert pairs == {("a", "b"), ("a", "c")}
    out2 = rolling_corr(df.repartition(7), [("a", "b"), ("a", "c")],
                        window=12).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
