"""Tier pipeline, gap-fill, and token-corpus invariants."""

import datetime as dt

from pyspark.sql import functions as F

from adtk_spark.plans.gapfill import forward_fill, interpolate_linear, time_spine
from adtk_spark.plans.tiers import build_tiers, rollup_raw, rollup_up, tier_series
from adtk_spark.sources.tokens import token_corpus, token_equality_check, token_series
from tests.conftest import assert_layout_invariant, assert_series, series_df


def test_token_corpus_invariants(spark):
    a = token_corpus(spark, 5000, n_sources=16, seed=3)
    assert a.where(F.size("tokens") != F.col("n_tok")).count() == 0
    assert token_equality_check(a, token_corpus(spark, 5000, n_sources=16, seed=3)) == 0
    counts = dict(
        (r["source"], r["count"]) for r in a.groupBy("source").count().collect()
    )
    assert counts["src0"] > 3 * counts.get("src5", 1)  # Zipf skew present


def test_tier_reaggregation_exact(spark):
    corpus = token_corpus(spark, 3000, n_sources=8, seed=5, span_secs=7200)
    raw = token_series(corpus)
    t1m = rollup_raw(raw, "1m")
    t1h_up = rollup_up(t1m, "1h")
    t1h_direct = rollup_raw(raw, "1h")
    cols = ["source", "bucket_ts", "cnt", "vmin", "vmax"]
    up = {tuple(r) for r in t1h_up.select(*cols, F.round("vsum", 6), F.round("mean", 6)).collect()}
    di = {tuple(r) for r in t1h_direct.select(*cols, F.round("vsum", 6), F.round("mean", 6)).collect()}
    assert up == di


def test_gapfill_ffill_lerp(spark):
    t0 = dt.datetime(2025, 1, 1)
    rows = [
        ("A", t0, 1.0),
        ("A", t0 + dt.timedelta(minutes=3), 4.0),
        ("A", t0 + dt.timedelta(minutes=5), 10.0),
    ]
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    spine = time_spine(df, "1 minute")
    assert spine.count() == 6  # minutes 0..5
    ff = forward_fill(spine)
    got_ff = [r["value_ff"] for r in ff.orderBy("ts").collect()]
    assert got_ff == [1.0, 1.0, 1.0, 4.0, 4.0, 10.0]
    lp = interpolate_linear(spine)
    got_lp = [round(r["value_lerp"], 6) for r in lp.orderBy("ts").collect()]
    assert got_lp == [1.0, 2.0, 3.0, 4.0, 7.0, 10.0]


def _spine_by_join(df, secs):
    """The spine as a min/max groupBy, an exploded sequence and a left
    join of the values: the reference for the windowed time_spine."""
    bounds = df.groupBy("source").agg(
        F.min("ts").cast("timestamp").alias("_mn"), F.max("ts").cast("timestamp").alias("_mx"))
    spine = bounds.select(
        "source",
        F.explode(F.sequence("_mn", "_mx", F.expr(f"interval {secs} seconds"))).alias("ts"))
    return spine.join(df.select("source", F.col("ts").cast("timestamp").alias("ts"), "value"),
                      ["source", "ts"], "left")


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda r: tuple((v is None, v) for v in r))


def test_time_spine_matches_join_form(spark):
    """On aligned inputs the one-window spine has the rows of the join
    form: duplicate (source, ts) rows keep both values, NULL values stay,
    a NULL-ts row and an all-NULL-ts source drop out, a one-row source
    stays one row. The gap report reads the same gaps off the window."""
    from adtk_spark.plans.gapfill import gap_report

    t0 = dt.datetime(2025, 1, 1)
    m = [t0 + dt.timedelta(minutes=i) for i in range(12)]
    rows = [
        ("A", m[0], 1.0), ("A", m[3], None), ("A", m[3], 3.0), ("A", m[4], 4.0),
        ("A", m[9], 9.0), ("A", m[11], None), ("A", None, 7.0),
        ("B", m[5], 5.0),
        ("C", None, 1.0), ("C", None, None),
    ]
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    got = time_spine(df, "1 minute")
    assert got.columns == ["source", "ts", "value"]
    spine = _sorted_rows(got)
    assert spine == _sorted_rows(_spine_by_join(df, 60))
    assert len(spine) == 14  # A: minutes 0-11 with minute 3 twice; B: 1
    gaps = {(r["source"], r["gap_start"].minute, r["gap_end"].minute, r["n_missing"])
            for r in gap_report(df, "1 minute").collect()}
    assert gaps == {("A", 1, 2, 2), ("A", 5, 8, 4), ("A", 10, 10, 1)}


def test_tiers_detector_on_rolled_series(spark):
    """adtk semantics applied to a tier's own series (SURVEY §7.3.5):
    a level-shifted burst in the 1m tier is detected by PersistAD."""
    from adtk_spark.operators.detectors import persist_ad

    corpus = token_corpus(spark, 40000, n_sources=4, seed=9, span_secs=86400)
    tiers = build_tiers(token_series(corpus))
    hourly = tier_series(tiers["1h"], "mean")
    labels = persist_ad(hourly, window=3, c=3.0, min_periods=2)
    hot = labels.where((F.col("source") == "src0") & (F.col("label") == 1.0))
    assert hot.count() >= 1  # the injected 6h burst fires the detector


def test_rollup_sliding_matches_pandas(spark):
    import numpy as np
    import pandas as pd

    from adtk_spark.plans.tiers import rollup_sliding

    rng = np.random.RandomState(0)
    ts = pd.date_range("2024-01-01", periods=300, freq="17s")
    pdf = pd.DataFrame(
        {"source": ["a"] * 300 + ["b"] * 300, "ts": list(ts) * 2,
         "value": rng.rand(600)}
    )
    t1m = rollup_raw(spark.createDataFrame(pdf), "1m")
    out = (
        rollup_sliding(t1m, width_secs=300, step_secs=60, quantile=0.5)
        .orderBy("source", "bucket_ts")
        .toPandas()
    )
    for src in ("a", "b"):
        m = (
            pdf[pdf.source == src].set_index("ts").resample("1min")["value"]
            .agg(["count", "min", "max", "sum", "mean"])
        )
        roll = m.rolling("5min")
        got = out[out.source == src]
        assert (got.w_cnt.values == roll["count"].sum().values).all()
        assert np.allclose(got.w_sum.values, roll["sum"].sum().values)
        assert np.allclose(got.w_min.values, roll["min"].min().values)
        assert np.allclose(got.w_max.values, roll["max"].max().values)
        assert np.allclose(
            got.w_q.values, m["mean"].rolling(5, min_periods=1).median().values
        )
        assert np.allclose(
            got.w_mean.values,
            (roll["sum"].sum() / roll["count"].sum()).values,
        )


def test_rollup_sliding_gap_respects_time_width(spark):
    # a missing bucket must narrow the window by TIME, not by row count
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1)
    rows = [("A", t0 + dt.timedelta(minutes=m), 1.0) for m in (0, 1, 2, 10, 11)]
    t1m = rollup_raw(spark.createDataFrame(rows, "source string, ts timestamp, value double"), "1m")
    from adtk_spark.plans.tiers import rollup_sliding

    out = {
        r["bucket_ts"].minute: r["w_cnt"]
        for r in rollup_sliding(t1m, 300, 60).collect()
    }
    assert out == {0: 1, 1: 2, 2: 3, 10: 1, 11: 2}


# ---------------------------------------------------------------------------
# property-based pandas parity for gap-fill (hypothesis)
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=10, deadline=None)
@given(vals=st.lists(st.one_of(st.none(), st.integers(min_value=-9, max_value=9)),
                     min_size=2, max_size=16))
def test_gapfill_property_matches_pandas(spark, vals):
    """Random NULL patterns (leading / trailing / interior runs) on a
    regular spine: ffill must equal pandas ffill, and lerp must equal
    pandas interpolate('linear') with trailing-carry semantics."""
    import datetime as dt
    import math

    import pandas as pd

    from adtk_spark.plans.gapfill import forward_fill, interpolate_linear

    t0 = dt.datetime(2025, 1, 1)
    rows = [("s", t0 + dt.timedelta(minutes=i),
             None if v is None else float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    ff = {r["ts"]: r["value_ff"] for r in forward_fill(df).collect()}
    lp = {r["ts"]: r["value_lerp"] for r in interpolate_linear(df).collect()}

    s = pd.Series([float("nan") if v is None else float(v) for v in vals],
                  index=pd.date_range(t0, periods=len(vals), freq="1min"))
    pf = s.ffill()
    pl = s.interpolate("linear")  # pandas also carries trailing values

    for i, ts in enumerate(sorted(ff)):
        for got, exp in ((ff[ts], pf.iloc[i]), (lp[ts], pl.iloc[i])):
            if isinstance(exp, float) and math.isnan(exp):
                assert got is None, (i, vals)
            else:
                assert got is not None and abs(got - exp) < 1e-9, (i, vals)


# ---------------------------------------------------------------------------
# M4 downsampling (Jugel et al., VLDB 2014)
# ---------------------------------------------------------------------------

def _m4_pandas(rows, width_secs):
    """Reference M4: per (source, bucket) keep the first/last/min/max
    tuples; value ties break earliest-ts for min, latest-ts for max."""
    import collections

    buckets = collections.defaultdict(list)
    for src, ts, v in rows:
        if v is None:
            continue
        b = int(ts.timestamp()) // width_secs
        buckets[(src, b)].append((ts, v))
    out = set()
    for (src, _b), pts in buckets.items():
        pts.sort()
        vmin = min(v for _, v in pts)
        vmax = max(v for _, v in pts)
        t_vmin = min(t for t, v in pts if v == vmin)
        t_vmax = max(t for t, v in pts if v == vmax)
        sel = {pts[0], pts[-1], (t_vmin, vmin), (t_vmax, vmax)}
        out |= {(src, t, v) for t, v in sel}
    return out


def test_m4_downsample_matches_reference(spark):
    from adtk_spark.plans.tiers import m4_downsample

    t0 = dt.datetime(2025, 1, 1)
    # two sources, unique ts per source, value ties inside buckets to
    # exercise the struct tie-breaks; one bucket with a single point
    rows = []
    vals_a = [5.0, 1.0, 1.0, 9.0, 9.0, 3.0, 7.0, 7.0, 2.0, 8.0, 4.0, 6.0]
    for i, v in enumerate(vals_a):
        rows.append(("A", t0 + dt.timedelta(minutes=2 * i), v))
    rows.append(("B", t0 + dt.timedelta(minutes=1), 42.0))  # singleton bucket
    rows.append(("B", t0 + dt.timedelta(minutes=31), 41.0))
    rows.append(("B", t0 + dt.timedelta(minutes=32), 41.0))  # tie pair
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    got = {(r["source"], r["ts"], r["value"])
           for r in m4_downsample(df, "10 minutes").collect()}
    exp = _m4_pandas(rows, 600)
    assert got == exp
    # result is a genuine sub-series of the input
    assert got <= {(s, t, v) for s, t, v in rows}


def test_m4_downsample_random_vs_reference(spark):
    import random

    from adtk_spark.plans.tiers import m4_downsample

    rng = random.Random(7)
    t0 = dt.datetime(2025, 3, 1)
    rows = []
    for src in ("x", "y", "z"):
        ts_offsets = rng.sample(range(0, 86400), 400)
        for off in ts_offsets:
            # coarse-grained values force plenty of within-bucket ties
            rows.append((src, t0 + dt.timedelta(seconds=off),
                         float(rng.randint(0, 12))))
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    got = {(r["source"], r["ts"], r["value"])
           for r in m4_downsample(df, "1 hour").collect()}
    assert got == _m4_pandas(rows, 3600)


def test_sax_random_vs_numpy_reference(spark):
    """Randomized SAX parity vs an independent numpy re-derivation that
    replays the same quantize-then-exact-sum arithmetic — exact
    equality on paa, z, and the symbol, across alphabets."""
    import random
    from decimal import Decimal

    from adtk_spark.plans.tiers import SAX_BREAKPOINTS, sax_downsample

    rng = random.Random(11)
    t0 = dt.datetime(2025, 3, 1)
    rows = []
    for src in ("x", "y"):
        for i in range(240):
            rows.append((src, t0 + dt.timedelta(minutes=i),
                         round(rng.uniform(-50, 50), 3)))
    df = spark.createDataFrame(
        rows, "source string, bucket_ts timestamp, mean double")

    def ref(alphabet):
        bps = SAX_BREAKPOINTS[alphabet]
        out = {}
        for src in ("x", "y"):
            vals = [(ts, v) for s, ts, v in rows if s == src]
            q = lambda x: Decimal(repr(round(x, 9)))  # noqa: E731
            s1 = float(sum(q(v) for _, v in vals))
            s2 = float(sum(q(v * v) for _, v in vals))
            n = len(vals)
            mu = s1 / n
            sigma = max((s2 - (s1 / n) * s1) / n, 0.0) ** 0.5
            segs = {}
            for ts, v in vals:
                e = int(ts.replace(tzinfo=dt.timezone.utc).timestamp())
                segs.setdefault(e - e % 480, []).append(v)
            for seg_e, vs in segs.items():
                paa = float(sum(q(v) for v in vs)) / len(vs)
                z = 0.0 if sigma == 0.0 else (paa - mu) / sigma
                sym = chr(ord("a") + len(bps))
                for i in range(len(bps) - 1, -1, -1):
                    if z < bps[i]:
                        sym = chr(ord("a") + i)
                out[(src, seg_e)] = (round(paa, 6), round(z, 6), sym)
        return out

    for alphabet in (2, 4, 8):
        got = {(r["source"],
                int(r["seg_ts"].replace(tzinfo=dt.timezone.utc).timestamp())):
               (r["paa"], r["z"], r["symbol"])
               for r in sax_downsample(df, segment_secs=480,
                                       alphabet=alphabet).collect()}
        assert got == ref(alphabet)


def test_distinct_tiers_exact_and_sketch(spark):
    """Exact distinct rollup matches a python set re-derivation; the
    HLL sketch tier estimates within 3% and its upward union matches
    re-sketching at the coarse tier within estimator tolerance
    (union may coupon-merge in a different internal order, so the two
    estimates can differ by a count or two — never materially)."""
    import pyspark.sql.functions as F

    from adtk_spark.plans.tiers import (
        rollup_distinct,
        rollup_distinct_sketch,
        rollup_distinct_up,
    )

    t0 = dt.datetime(2025, 1, 1)
    rows = []
    for i in range(20000):
        rows.append(("s", t0 + dt.timedelta(seconds=i * 4),
                     f"user{i % 3000 if i % 2 else (i * 7) % 5000}"))
    df = spark.createDataFrame(rows, "source string, ts timestamp, user_id string")
    exact = {r["bucket_ts"]: r["n_distinct"]
             for r in rollup_distinct(df, "1h").collect()}
    import collections
    sets = collections.defaultdict(set)
    for s, ts, u in rows:
        sets[ts.replace(minute=0, second=0)].add(u)
    assert exact == {k: len(v) for k, v in sets.items()}

    sk1m = rollup_distinct_sketch(df, "1m")
    sk1h_up = rollup_distinct_up(sk1m, "1h")
    up = {r["bucket_ts"]: r["n_distinct_est"] for r in sk1h_up.collect()}
    direct = {r["bucket_ts"]: r["n_distinct_est"]
              for r in rollup_distinct_sketch(df, "1h").collect()}
    for b, n in exact.items():
        assert abs(up[b] - direct[b]) / n < 0.01
        assert abs(up[b] - n) / n < 0.03
        assert abs(direct[b] - n) / n < 0.03


def test_rollup_topk_ties_and_rank(spark):
    """Top-k heavy hitters: deterministic (count DESC, key ASC) ties,
    at most k rows per bucket, counts exact."""
    import pyspark.sql.functions as F

    from adtk_spark.plans.tiers import rollup_topk

    t0 = dt.datetime(2025, 1, 1)
    rows = []
    # bucket 1: u1 x3, u2 x2, u3 x2, u4 x1 -> top3 = u1, u2, u3
    for i, u in enumerate(["u1", "u1", "u1", "u2", "u2", "u3", "u3", "u4"]):
        rows.append(("s", t0 + dt.timedelta(minutes=i), u))
    # bucket 2: all tied at 1 -> lexicographic ties
    for i, u in enumerate(["z", "y", "x", "w"]):
        rows.append(("s", t0 + dt.timedelta(hours=1, minutes=i), u))
    df = spark.createDataFrame(rows, "source string, ts timestamp, user_id string")
    out = rollup_topk(df, "1h", k=3).orderBy("bucket_ts", "rank").collect()
    b1 = [(r["key"], r["cnt"], r["rank"]) for r in out if r["bucket_ts"].hour == 0]
    b2 = [(r["key"], r["cnt"], r["rank"]) for r in out if r["bucket_ts"].hour == 1]
    assert b1 == [("u1", 3, 1), ("u2", 2, 2), ("u3", 2, 3)]
    assert b2 == [("w", 1, 1), ("x", 1, 2), ("y", 1, 3)]


def test_gap_report_golden(spark):
    """Hand-built gaps: runs merge, singletons stay single, dense
    sources emit no rows."""
    from adtk_spark.plans.gapfill import gap_report

    t0 = dt.datetime(2025, 1, 1)
    present = [0, 1, 2, 5, 6, 10, 12]  # gaps: 3-4, 7-9, 11
    rows = [("A", t0 + dt.timedelta(hours=h)) for h in present]
    rows += [("B", t0 + dt.timedelta(hours=h)) for h in range(4)]  # dense
    df = spark.createDataFrame(rows, "source string, ts timestamp")
    out = {(r["source"], r["gap_start"].hour, r["gap_end"].hour, r["n_missing"])
           for r in gap_report(df, "1 hour").collect()}
    assert out == {("A", 3, 4, 2), ("A", 7, 9, 3), ("A", 11, 11, 1)}


def test_rollup_retention_golden(spark):
    """Hand-built hour-over-hour retention: overlap counts, first
    bucket retains 0, ratio exact."""
    from adtk_spark.plans.tiers import rollup_retention

    t0 = dt.datetime(2025, 1, 1)
    rows = []
    for u in ("u1", "u2", "u3"):            # hour 0: {u1,u2,u3}
        rows.append(("s", t0, u))
    for u in ("u2", "u3", "u4", "u5"):      # hour 1: retains u2,u3
        rows.append(("s", t0 + dt.timedelta(hours=1), u))
    for u in ("u9",):                       # hour 3 (gap): no previous
        rows.append(("s", t0 + dt.timedelta(hours=3), u))
    df = spark.createDataFrame(rows, "source string, ts timestamp, user_id string")
    got = {r["bucket_ts"].hour: (r["n_distinct"], r["n_retained"], r["retention"])
           for r in rollup_retention(df, "1h").collect()}
    assert got == {0: (3, 0, 0.0), 1: (4, 2, 0.5), 3: (1, 0, 0.0)}


def test_rollup_hist_bins_and_merge(spark):
    """Bin semantics (below-first-edge -> 0, above-last -> len(edges)),
    NULLs dropped, and the 1m->1h SUM merge equals direct 1h binning."""
    from adtk_spark.plans.tiers import rollup_hist, rollup_hist_up

    t0 = dt.datetime(2025, 1, 1)
    vals = [-5.0, 0.0, 3.0, 10.0, 10.0, 25.0, None, 99.0]
    rows = [("s", t0 + dt.timedelta(minutes=7 * i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    edges = [0.0, 10.0, 50.0]
    h = {(r["bucket_ts"].minute, r["bin"]): r["cnt"]
         for r in rollup_hist(df, edges, "1h").collect()}
    # hour bucket 0: -5 -> bin0; 0,3 -> bin1; 10,10,25 -> bin2; 99 -> bin3
    assert h == {(0, 0): 1, (0, 1): 2, (0, 2): 3, (0, 3): 1}
    up = {(r["bucket_ts"], r["bin"]): r["cnt"]
          for r in rollup_hist_up(rollup_hist(df, edges, "1m"), "1h").collect()}
    direct = {(r["bucket_ts"], r["bin"]): r["cnt"]
              for r in rollup_hist(df, edges, "1h").collect()}
    assert up == direct


def test_rollup_topk_up_exact_on_skew_and_lower_bound(spark):
    """Mergeable heavy hitters: (a) with hitters skewed enough to make
    every hourly top-m, the merged daily top-k EQUALS re-reading raw;
    (b) on adversarial data (a key just below every hourly top-m) the
    merged count is a LOWER BOUND of the true count, never an
    overcount."""
    import datetime as dt

    from adtk_spark.plans.tiers import rollup_topk, rollup_topk_up

    base = dt.datetime(2025, 1, 1)
    rows = []
    # skew case: key "hot" dominates every hour; "warm" second
    for h in range(6):
        for i in range(10):
            rows.append(("s", base + dt.timedelta(hours=h, seconds=i), "hot"))
        for i in range(5):
            rows.append(("s", base + dt.timedelta(hours=h, seconds=100 + i),
                         "warm"))
        rows.append(("s", base + dt.timedelta(hours=h, seconds=200),
                     f"noise{h}"))
    df = spark.createDataFrame(rows, "source string, ts timestamp, user_id string")
    merged = rollup_topk_up(rollup_topk(df, "1h", k=2), "1d", k=2)
    direct = rollup_topk(df, "1d", k=2)
    key = lambda r: (r["source"], r["bucket_ts"], r["key"], r["cnt"], r["rank"])
    assert sorted(map(key, merged.collect())) == sorted(map(key, direct.collect()))

    # adversarial: "sneaky" is 3rd in every hour (m=2 drops it), so its
    # merged count underestimates; counts never overcount
    rows2 = rows + [("s", base + dt.timedelta(hours=h, seconds=300 + i),
                     "sneaky") for h in range(6) for i in range(3)]
    df2 = spark.createDataFrame(rows2, "source string, ts timestamp, user_id string")
    m2 = {r["key"]: r["cnt"]
          for r in rollup_topk_up(rollup_topk(df2, "1h", k=2), "1d", k=5).collect()}
    d2 = {r["key"]: r["cnt"] for r in rollup_topk(df2, "1d", k=5).collect()}
    assert "sneaky" not in m2            # truncated out of every hour
    assert d2["sneaky"] == 18            # the truth the merge lower-bounds
    for k_, v in m2.items():
        assert v <= d2.get(k_, v)        # lower bound, never overcount


def test_seasonal_naive_anomaly_golden(spark):
    """Day-over-day seasonal-naive: flat sources give zero residuals,
    a single spiked hour flags, missing buckets yield NULL baselines
    (the RANGE frame never falls back to the wrong period)."""
    import math

    from adtk_spark.plans.tiers import seasonal_naive_anomaly

    base = dt.datetime(2025, 3, 1)
    rows = []
    # 3 days x 24 hourly points, value = 10 + hour-of-day, except a
    # spike at day 3 hour 5; hour 7 of day 2 is MISSING entirely
    for day in range(3):
        for h in range(24):
            if day == 1 and h == 7:
                continue
            v = 100.0 if (day == 2 and h == 5) else 10.0 + h
            rows.append(("a", base + dt.timedelta(days=day, hours=h), v))
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    out = {(r["ts"]): (r["baseline"], r["resid"], r["is_anomaly"])
           for r in seasonal_naive_anomaly(df, 86400).collect()}
    # day 1: no prior period -> NULL baseline/flag
    t0 = base + dt.timedelta(hours=3)
    assert out[t0] == (None, None, None)
    # day 2 hour 8: baseline = day 1 hour 8, residual 0, not anomalous
    t1 = base + dt.timedelta(days=1, hours=8)
    assert out[t1] == (18.0, 0.0, False)
    # day 3 hour 7: day-2 hour 7 missing -> NULL baseline, no flag
    t2 = base + dt.timedelta(days=2, hours=7)
    assert out[t2] == (None, None, None)
    # day 3 hour 5: residual 100 - 15 = 85 dominates -> flagged
    t3 = base + dt.timedelta(days=2, hours=5)
    assert out[t3][0] == 15.0 and out[t3][1] == 85.0 and out[t3][2]
    # all other observed residuals are 0 and unflagged
    flagged = [t for t, (_, _, f) in out.items() if f]
    assert flagged == [t3]
    # real-valued input: identical rows at any partitioning
    import random

    rng = random.Random(485)
    noisy = spark.createDataFrame(
        [(s, base + dt.timedelta(hours=i), rng.gauss(10.0, 4.0))
         for s in ("a", "b", "c") for i in range(24 * 10)],
        "source string, ts timestamp, value double")
    assert_layout_invariant(
        spark, noisy, lambda d: seasonal_naive_anomaly(d, 86400, z=1.5))


def test_seasonal_naive_plan_one_exchange_no_join(spark):
    import re

    from adtk_spark.plans.tiers import seasonal_naive_anomaly

    df = spark.createDataFrame(
        [("a", dt.datetime(2025, 1, 1), 1.0)],
        "source string, ts timestamp, value double")
    plan = seasonal_naive_anomaly(df, 3600)._jdf.queryExecution() \
        .executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_ltob_downsample_golden(spark):
    """LTOB golden: the spike wins its bucket, flat-series zero-area
    ties break by earliest ts over NULL-area endpoints, and a
    single-point bucket keeps its endpoint."""
    from adtk_spark.plans.tiers import ltob_downsample

    base = dt.datetime(2025, 4, 1)
    mk = lambda m, v: ("a", base + dt.timedelta(minutes=m), float(v))
    rows = [
        # hour 0: spike at :20 must win
        mk(0, 0), mk(10, 0), mk(20, 10), mk(30, 0), mk(40, 0),
        # hour 1: flat -> interior zero-area ties, earliest (:70) wins
        # (:60's lag exists, so it's interior too but area>0 vs hour-0
        #  neighborhood; keep it simple: all values equal from :40 on)
        mk(60, 0), mk(70, 0), mk(80, 0),
        # hour 2: a single point, NULL area, still kept (alone in bucket)
        mk(125, 7),
    ]
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    got = sorted((r["ts"], r["value"])
                 for r in ltob_downsample(df, "1 hour").collect())
    # hour 0 pick: the spike; hour 1 pick: earliest interior zero-area
    # point; hour 2 pick: the lone endpoint
    assert (base + dt.timedelta(minutes=20), 10.0) in got
    assert (base + dt.timedelta(minutes=125), 7.0) in got
    assert len(got) == 3
    hour1 = [g for g in got
             if dt.timedelta(minutes=60) <= g[0] - base < dt.timedelta(minutes=120)]
    assert hour1 and hour1[0][1] == 0.0


def test_ltob_plan_one_exchange_no_join(spark):
    import re

    from adtk_spark.plans.tiers import ltob_downsample

    df = spark.createDataFrame(
        [("a", dt.datetime(2025, 1, 1), 1.0)],
        "source string, ts timestamp, value double")
    plan = ltob_downsample(df)._jdf.queryExecution().executedPlan().toString()
    # the (source,bucket) argmax reuses the source-hash partitioning of
    # the neighbor window: one Exchange total
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_rollup_slope_golden(spark):
    """OLS slope tier golden: exact slope on linear points, NULL for
    single-point and zero-x-variance (duplicate-ts) buckets."""
    from adtk_spark.plans.tiers import rollup_slope

    base = dt.datetime(2025, 5, 1)
    rows = [
        # hour 0: y = 2*x + 1 over x = 0, 60, 120 seconds -> slope 2
        ("a", base, 1.0),
        ("a", base + dt.timedelta(seconds=60), 121.0),
        ("a", base + dt.timedelta(seconds=120), 241.0),
        # hour 1: single point -> NULL
        ("a", base + dt.timedelta(hours=1), 5.0),
        # hour 2: two points at the SAME timestamp -> zero x-variance,
        # the denominator is pure quantization residue -> NULL
        ("a", base + dt.timedelta(hours=2), 3.0),
        ("a", base + dt.timedelta(hours=2), 9.0),
    ]
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    got = {r["bucket_ts"]: (r["n"], r["slope_per_sec"])
           for r in rollup_slope(df, "1h").collect()}
    assert got[base] == (3, 2.0)
    assert got[base + dt.timedelta(hours=1)] == (1, None)
    assert got[base + dt.timedelta(hours=2)] == (2, None)
    # real-valued input around 1e12 (a byte counter): a double sum of
    # x*y would change with the partitioning, the exact one not
    import random

    rng = random.Random(583)
    noisy = spark.createDataFrame(
        [(s, base + dt.timedelta(seconds=rng.uniform(0, 4 * 3600)),
          1e12 + rng.gauss(0.0, 1e6)) for s in ("a", "b", "c")
         for _ in range(400)],
        "source string, ts timestamp, value double")
    assert_layout_invariant(spark, noisy, lambda d: rollup_slope(d, "1h"))


def test_rollup_slope_plan_one_exchange(spark):
    import re

    from adtk_spark.plans.tiers import rollup_slope

    df = spark.createDataFrame(
        [("a", dt.datetime(2025, 1, 1), 1.0)],
        "source string, ts timestamp, value double")
    plan = rollup_slope(df)._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "Join" not in plan and "Window" not in plan, plan
    # algebraic partial aggregation present (map-side combine)
    assert "partial" in plan.lower(), plan


def test_sax_motifs_golden(spark):
    """Motif golden: a recurring word surfaces with its count and
    first/last windows; singletons are dropped; rank by frequency."""
    from adtk_spark.plans.tiers import sax_motifs

    b = dt.datetime(2025, 8, 1)
    w = lambda h: b + dt.timedelta(hours=h)
    rows = [
        ("a", w(0), "abba", 8), ("a", w(1), "abba", 8),
        ("a", w(2), "abba", 8), ("a", w(3), "dcdc", 8),
        ("a", w(4), "dcdc", 8), ("a", w(5), "bbbb", 8),  # singleton
        ("b", w(0), "cccc", 8), ("b", w(1), "cccc", 8),
    ]
    df = spark.createDataFrame(
        rows, "source string, word_ts timestamp, word string, n_segments long")
    got = {(r["source"], r["word"]): (r["n_occurrences"], r["first_ts"],
                                      r["last_ts"], r["rank"])
           for r in sax_motifs(df).collect()}
    assert got[("a", "abba")] == (3, w(0), w(2), 1)
    assert got[("a", "dcdc")] == (2, w(3), w(4), 2)
    assert ("a", "bbbb") not in got
    assert got[("b", "cccc")] == (2, w(0), w(1), 1)
