"""Tier router (plans/router.py): routed answers must be point-identical
to aggregating raw at the same resolution, the tier choice must be the
coarsest divisor, and retention must steer routing away from evicted
fine tiers."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from adtk_spark.plans.router import TIER_WIDTH_SECS, pick_tier, route_rollup
from adtk_spark.plans.tiers import build_tiers
from tests.test_plans import count_exchanges, plan_of

T0 = dt.datetime(2017, 1, 1)


def _raw(spark, n=600, step_secs=13):
    rows = [
        (src, T0 + dt.timedelta(seconds=step_secs * i + off),
         float((i * 7 + off) % 101) - 50.0)
        for src, off in (("A", 0), ("B", 5))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "source string, ts timestamp, value double")


def _direct(raw, res):
    epoch = F.unix_timestamp("ts").cast("long")
    return (
        raw.groupBy(
            "source",
            F.timestamp_seconds(epoch - F.pmod(epoch, F.lit(res))).alias("bucket_ts"),
        )
        .agg(F.count("value").alias("cnt"), F.min("value").alias("vmin"),
             F.max("value").alias("vmax"), F.sum("value").alias("vsum"))
        .withColumn("mean", F.col("vsum") / F.col("cnt"))
    )


def _cmp(routed, direct):
    a = {(r["source"], r["bucket_ts"]): r for r in routed.collect()}
    b = {(r["source"], r["bucket_ts"]): r for r in direct.collect()}
    assert set(a) == set(b) and a
    for k, ra in a.items():
        rb = b[k]
        assert ra["cnt"] == rb["cnt"], k
        assert ra["vmin"] == rb["vmin"] and ra["vmax"] == rb["vmax"], k
        assert abs(ra["vsum"] - rb["vsum"]) < 1e-6, k
        assert abs(ra["mean"] - rb["mean"]) < 1e-9, k


def test_pick_tier_coarsest_divisor():
    assert pick_tier(900) == "1m"          # 15 min: 1h doesn't divide
    assert pick_tier(7200) == "1h"         # 2 h
    assert pick_tier(7 * 86400) == "1d"    # 1 week
    assert pick_tier(60) == "1m"
    assert pick_tier(90) is None           # nothing divides -> raw fallback


def test_pick_tier_respects_retention():
    avail = {"1m": dt.datetime(2017, 1, 2), "1h": dt.datetime(2016, 1, 1)}
    # 1h divides 7200 and covers the old start; 1m doesn't cover it
    assert pick_tier(7200, avail, start=dt.datetime(2016, 6, 1)) == "1h"
    # 900s can only come from 1m, but 1m is evicted before the start
    assert pick_tier(900, avail, start=dt.datetime(2016, 6, 1)) is None
    assert pick_tier(900, avail, start=dt.datetime(2017, 1, 3)) == "1m"


def test_route_matches_raw_at_each_resolution(spark):
    raw = _raw(spark)
    tiers = build_tiers(raw)
    for res in (900, 7200):
        _cmp(route_rollup(tiers, res), _direct(raw, res))


def test_route_time_range_filter(spark):
    raw = _raw(spark)
    tiers = build_tiers(raw)
    start, end = T0 + dt.timedelta(minutes=10), T0 + dt.timedelta(minutes=40)
    routed = route_rollup(tiers, 900, start, end)
    direct = _direct(raw.where((F.col("ts") >= F.lit(start)) & (F.col("ts") < F.lit(end))), 900)
    _cmp(routed, direct)


def test_exact_width_fast_path_no_shuffle(spark):
    raw = _raw(spark)
    tiers = {k: df.localCheckpoint() for k, df in build_tiers(raw).items()}
    plan = plan_of(route_rollup(tiers, 3600))
    assert count_exchanges(plan) == 0, plan
    got = {(r["source"], r["bucket_ts"]): r["cnt"]
           for r in route_rollup(tiers, 3600).collect()}
    want = {(r["source"], r["bucket_ts"]): r["cnt"] for r in _direct(raw, 3600).collect()}
    assert got == want


def test_route_quantile_matches_tier_means(spark):
    import numpy as np

    raw = _raw(spark)
    tiers = build_tiers(raw)
    routed = route_rollup(tiers, 900, quantile=0.5)
    means = tiers["1m"].collect()
    by_win = {}
    for r in means:
        e = int(r["bucket_ts"].timestamp())
        by_win.setdefault((r["source"], e - e % 900), []).append(r["mean"])
    for r in routed.collect():
        k = (r["source"], int(r["bucket_ts"].timestamp()))
        assert abs(r["vq"] - float(np.quantile(by_win[k], 0.5))) < 1e-9, k


def test_route_skips_stale_bucketed_view(spark, tmp_path):
    """After a post-compaction commit, routing must fall back to the
    snapshot union instead of serving the stale bucketed view."""
    from adtk_spark.plans.router import route_from_catalog
    from adtk_spark.sources.catalog import TierCatalog

    raw = _raw(spark, n=120)
    t1h = build_tiers(raw)["1h"]
    cat = TierCatalog(str(tmp_path / "cat"))
    cat.commit(t1h, "tier_1h")
    cat.commit_bucketed(t1h, "tier_1h", buckets=4)
    assert cat.bucketed_as_of("tier_1h") == cat.last_snapshot("tier_1h")
    n1 = route_from_catalog(spark, cat, {"1h": "tier_1h"}, 3600).count()

    # restate: second snapshot doubles one bucket's counts
    restated = t1h.limit(1).withColumn("cnt", F.col("cnt") * 2)
    cat.commit(restated, "tier_1h")
    assert cat.bucketed_as_of("tier_1h") != cat.last_snapshot("tier_1h")
    routed = route_from_catalog(spark, cat, {"1h": "tier_1h"}, 3600)
    assert routed.count() == n1  # latest-wins, no duplicate buckets
    key = restated.collect()[0]
    got = {(r["source"], r["bucket_ts"]): r["cnt"] for r in routed.collect()}
    assert got[(key["source"], key["bucket_ts"])] == key["cnt"]  # new value served


def test_all_tier_widths_registered():
    assert set(TIER_WIDTH_SECS) == {"1m", "1h", "1d"}


def test_rollup_at_matches_direct(spark):
    from adtk_spark.plans.router import rollup_at

    raw = _raw(spark)
    assert pick_tier(90) is None  # the case rollup_at exists for
    _cmp(rollup_at(raw, 90), _direct(raw, 90))
    start, end = T0 + dt.timedelta(minutes=3), T0 + dt.timedelta(minutes=30)
    bounded = raw.where((F.col("ts") >= F.lit(start)) & (F.col("ts") < F.lit(end)))
    _cmp(rollup_at(raw, 90, start, end), _direct(bounded, 90))


def test_route_sketch_raw_distribution_quantile(spark):
    from adtk_spark.plans.tiers import rollup_raw_sketch, rollup_up
    from tests.test_sketch import rank_of

    raw = _raw(spark)
    s1m = rollup_raw_sketch(raw, "1m")
    s1h = rollup_up(s1m, "1h")
    routed = route_rollup({"1m": s1m, "1h": s1h}, 7200, quantile=0.5)
    # algebraic columns stay exact through the sketch path
    _cmp(routed.drop("vq", "vdigest"), _direct(raw, 7200))
    # vq estimates the RAW distribution per 2h window within rank error
    by_win = {}
    for r in raw.collect():
        e = int(r["ts"].timestamp())
        by_win.setdefault((r["source"], e - e % 7200), []).append(r["value"])
    for r in routed.collect():
        k = (r["source"], int(r["bucket_ts"].timestamp()))
        sv = sorted(by_win[k])
        assert abs(rank_of(sv, r["vq"]) - 0.5) < 0.03, k


def test_route_from_catalog_retention_steering(spark, tmp_path):
    from adtk_spark.plans.router import route_from_catalog
    from adtk_spark.sources.catalog import TierCatalog

    raw = _raw(spark)
    tiers = build_tiers(raw)
    cat = TierCatalog(str(tmp_path / "cat"))
    for name in ("1m", "1h"):
        cat.commit(tiers[name], f"tier_{name}")
    tables = {"1m": "tier_1m", "1h": "tier_1h"}

    # full history intact: routed 2h == raw 2h
    _cmp(route_from_catalog(spark, cat, tables, 7200), _direct(_raw(spark), 7200))

    # vacuum the 1m tier after minute 30: an old-start 2h query must
    # come from 1h; an old-start 15m query has no serving tier left
    cut = T0 + dt.timedelta(minutes=30)
    cat.set_retention("tier_1m", cut)
    assert cat.get_retention("tier_1m") == cut
    out = route_from_catalog(spark, cat, tables, 7200, start=T0)
    _cmp(out, _direct(_raw(spark), 7200))
    with pytest.raises(KeyError, match="retention"):
        route_from_catalog(spark, cat, tables, 900, start=T0)
    # ...but the same 15m query starting after the cutoff is fine
    late = route_from_catalog(spark, cat, tables, 900, start=cut)
    raw_late = _raw(spark).where(F.col("ts") >= F.lit(cut))
    _cmp(late, _direct(raw_late, 900))


def test_route_twa_matches_direct_and_fast_path(spark):
    """route_rollup from the 1h TWA tier's partials at 3h == rollup_twa-style
    direct computation at 3h wherever segment cuts align (here always:
    hour cuts subdivide 3h windows); exact-width routing is a pure
    projection; no dividing tier raises."""
    import datetime as dt

    from adtk_spark.plans.tiers import rollup_twa

    t0 = dt.datetime(2025, 1, 1)
    rows = []
    for s in ("a", "b"):
        for i in range(0, 400):
            # irregular spacing: 0..399 steps of 7 minutes + jitter
            rows.append((s, t0 + dt.timedelta(minutes=7 * i + (i % 3)),
                         float((i * 13) % 50)))
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    h = rollup_twa(df, "1h")

    routed = {(r["source"], r["bucket_ts"]): (r["covered_secs"], r["twa"])
              for r in route_rollup({"1h": h}, 10800).collect()}

    # direct: same hour-cut quantized partials regrouped at 3h on the
    # driver (the upward TWA merge's exactness contract at query time)
    agg = {}
    for r in h.collect():
        key = (r["source"],
               dt.datetime.fromtimestamp(
                   (int(r["bucket_ts"].timestamp()) // 10800) * 10800))
        w, vw = agg.get(key, (0, 0))
        agg[key] = (w + r["_w_us"], vw + r["_vw"])
    assert set(routed) == set(agg)
    for k, (w, vw) in agg.items():
        cs, twa = routed[k]
        assert cs == round(w / 1e6, 6)
        assert abs(twa - round(float(vw) / (w / 1e6), 6)) < 1e-9, k

    # exact width: projection only (no new Exchange beyond the tier's)
    exact = route_rollup({"1h": h}, 3600)
    assert {r[0] for r in exact.select("source").distinct().collect()} == {"a", "b"}

    with pytest.raises(KeyError, match="materialized tier"):
        route_rollup({"1h": h}, 5400)  # 1.5h: 3600 does not divide it


def test_route_from_catalog_serves_each_family(spark, tmp_path):
    """A stored sketch or TWA tier routes through route_from_catalog (the
    family read off the manifest schema) to the rows route_rollup gives
    for the same tier in memory."""
    from adtk_spark.plans.router import route_from_catalog
    from adtk_spark.plans.tiers import rollup_raw_sketch, rollup_twa
    from adtk_spark.sources.catalog import TierCatalog

    raw = _raw(spark)
    cat = TierCatalog(str(tmp_path / "cat"))
    cases = {
        "sketch": (rollup_raw_sketch(raw, "1m"),
                   ["cnt", "vmin", "vmax", "vsum", "vdigest", "mean", "vq"]),
        "twa": (rollup_twa(raw, "1m"), ["covered_secs", "twa"]),
    }
    for family, (tier, cols) in cases.items():
        cat.commit(tier, family)
        got = route_from_catalog(spark, cat, {"1m": family}, 600)
        want = route_rollup({"1m": tier}, 600)
        assert got.columns == want.columns == ["source", "bucket_ts", *cols]
        exact = [c for c in got.columns if c not in ("vdigest", "vq")]
        assert sorted(map(tuple, got.select(exact).collect())) == \
            sorted(map(tuple, want.select(exact).collect())), family


@pytest.mark.parametrize("family", ["sketch", "twa"])
def test_route_rollup_families_layout_invariant(spark, family):
    """route_rollup over a sketch tier (its exact columns) and over a TWA
    tier (covered_secs, twa) emits the same rows whatever the input
    partitioning and the shuffle width."""
    from adtk_spark.plans.tiers import rollup_raw_sketch, rollup_twa
    from tests.conftest import assert_layout_invariant

    def run(d):
        if family == "twa":
            return route_rollup({"1m": rollup_twa(d, "1m")}, 600)
        return route_rollup({"1m": rollup_raw_sketch(d, "1m")}, 600).select(
            "source", "bucket_ts", "cnt", "vmin", "vmax", "vsum", "mean")

    rows = assert_layout_invariant(spark, _raw(spark), run)
    assert len(rows) == 2 * 13  # 600 points 13 s apart: 13 windows a source


@pytest.mark.parametrize("bad", [0, -60, True, 60.0, "60", None])
def test_bad_resolution_raises(spark, tmp_path, bad):
    """A resolution that is not a positive int raises ValueError on
    every routing entry point (0 used to route to 1d, -60 to 1m, then
    group by pmod(epoch, R) without an error)."""
    from adtk_spark.plans.router import rollup_at, route_from_catalog
    from adtk_spark.plans.tiers import rollup_raw_sketch, rollup_twa
    from adtk_spark.sources.catalog import TierCatalog

    raw = _raw(spark, n=20)
    tiers = build_tiers(raw)
    sketch = {"1m": rollup_raw_sketch(raw, "1m")}
    twa = {"1h": rollup_twa(raw, "1h")}
    cat = TierCatalog(str(tmp_path / "cat"))
    cat.commit(tiers["1m"], "tier_1m")
    calls = [lambda: pick_tier(bad),
             lambda: route_rollup(tiers, bad),
             lambda: route_rollup(twa, bad),
             lambda: route_rollup(sketch, bad),
             lambda: rollup_at(raw, bad),
             lambda: route_from_catalog(spark, cat, {"1m": "tier_1m"}, bad)]
    for call in calls:
        with pytest.raises(ValueError, match="positive int"):
            call()
