"""Driver-cost guards: how many JVM round trips building an operator's
plan takes, how many Spark jobs the one-series quantile fits run, and
how many classes a repeated pass of the operators compiles.

At tier scale the detect operators are bound by the driver, not by
rows: every py4j command is a socket round trip, and every Dataset step
re-runs the analyzer. These tests pin the current costs so a change
that adds round trips (call-site capture back on, a ``withColumn`` +
``drop`` tail, a per-call window spec rebuilt in a loop) fails here.
"""

import contextlib
import datetime as dt
import threading

import py4j.java_gateway as jg
import pytest
from pyspark.sql import functions as F

from adtk_spark.functions import windows as win
from adtk_spark.operators import detectors as D
from adtk_spark.operators import events as ev
from adtk_spark.plans import gapfill as gf
from adtk_spark.plans import tiers
from adtk_spark.session import codegen_compiles
from tests.test_catalog_resume import _jobs
from tests.test_detectors import _compound_series, _rows
from tests.test_plans import plan_of

SPLIT = dt.datetime(2025, 1, 1, 1, 30)
EDGES = [60.0, 80.0, 100.0, 120.0, 140.0]

# Non-detach py4j commands to build each operator once over a fresh
# parquet read, as measured with PySpark 4.1: the ceilings. With
# call-site capture on, the 12 detect operators took 10,676; with it off
# and each builder's withColumn/drop tails still in place, 3,316; with
# the time spine joined back to its values (112 and 233 for the two
# gap-fill operators) rather than built from one window, 3,040.
BUILD_CALLS = {
    "persist_ad": (lambda s: D.persist_ad(s, window=3, c=3.0), 499),
    "level_shift_ad": (lambda s: D.level_shift_ad(s, window=5, c=6.0), 495),
    "volatility_shift_ad": (lambda s: D.volatility_shift_ad(s, window=10, c=6.0), 375),
    "quantile_ad": (lambda s: D.quantile_ad(s, low=0.01, high=0.99), 221),
    "iqr_ad": (lambda s: D.iqr_ad(s, c=1.5), 226),
    "rolling_agg": (lambda s: win.rolling_agg(s, 7, "median", center=True), 132),
    "double_rolling_agg": (lambda s: win.double_rolling_agg(s, 5, "mean", diff="l1"), 122),
    "psi_drift": (lambda s: tiers.psi_drift(s, SPLIT, EDGES), 214),
    "ks_drift": (lambda s: tiers.ks_drift(s, SPLIT), 187),
    "js_drift": (lambda s: tiers.js_drift(s, SPLIT, EDGES), 224),
    "forward_fill": (lambda s: gf.forward_fill(gf.time_spine(s, "1min")), 45),
    "interpolate_linear": (lambda s: gf.interpolate_linear(gf.time_spine(s, "1min")), 166),
    "to_events": (lambda s: ev.to_events(s, freq="1min"), 141),
}
#: the 12 detect operators together (all but to_events)
DETECT_TOTAL = 2906


@contextlib.contextmanager
def py4j_commands():
    """Count the py4j commands this thread sends inside the block,
    leaving out detach (``m``) commands: those follow Python's garbage
    collection, not the code being built."""
    orig = jg.GatewayClient.send_command
    me = threading.get_ident()
    n = [0]

    def counting(self, command, *a, **kw):
        if threading.get_ident() == me and not command.startswith("m\n"):
            n[0] += 1
        return orig(self, command, *a, **kw)

    jg.GatewayClient.send_command = counting
    try:
        yield n
    finally:
        jg.GatewayClient.send_command = orig


@pytest.fixture(scope="module")
def series_path(spark, tmp_path_factory):
    """A small minute series with a label column, as parquet (the
    detect workload builds from a parquet read too)."""
    t0 = dt.datetime(2025, 1, 1)
    rows = [(f"s{k}", t0 + dt.timedelta(minutes=i), 100.0 + (i * 7 + k) % 13,
             float(i % 5 == 0)) for k in range(3) for i in range(180)]
    path = str(tmp_path_factory.mktemp("driver_cost") / "series")
    spark.createDataFrame(
        rows, "source string, ts timestamp, value double, label double"
    ).write.parquet(path)
    return path


def build_calls(spark, path, build) -> int:
    build(spark.read.parquet(path))  # warm: first-use lookups are not counted
    s = spark.read.parquet(path)
    with py4j_commands() as n:
        build(s)
    return n[0]


def test_get_spark_sizes_the_codegen_cache(spark):
    """get_spark holds 1000 generated classes, where Spark's default
    100-entry cache is smaller than one detect pass."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_repeated_pass_compiles_nothing(spark, series_path):
    """A second identical pass of the operators to a noop sink finds
    every generated class in the codegen cache: with 100 entries, one
    pass evicts its own classes and each pass compiles them again."""
    def run_pass():
        for build, _ in BUILD_CALLS.values():
            build(spark.read.parquet(series_path)).write.format("noop").mode(
                "overwrite").save()

    run_pass()
    n0, _ = codegen_compiles(spark)
    run_pass()
    assert codegen_compiles(spark)[0] - n0 == 0


def test_get_spark_turns_call_site_capture_off(spark):
    """get_spark switches PySpark's DataFrame call-site capture off, and
    analysis errors still raise AnalysisException without it."""
    from pyspark.errors import AnalysisException
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
    with pytest.raises(AnalysisException):
        spark.range(3).select("nope")


@pytest.mark.parametrize("name", sorted(BUILD_CALLS))
def test_build_py4j_ceiling(spark, series_path, name):
    build, ceiling = BUILD_CALLS[name]
    n = build_calls(spark, series_path, build)
    assert n <= ceiling, f"{name}: {n} py4j commands to build, ceiling {ceiling}"


def test_detect_build_py4j_total(spark, series_path):
    total = sum(build_calls(spark, series_path, build)
                for name, (build, _) in BUILD_CALLS.items() if name != "to_events")
    assert total <= DETECT_TOTAL, total


# Non-detach py4j commands to build one routed catalog read of a small
# tier, exact-width (60 s) and re-merged (300 s): the ceilings. With the
# [start, end) predicate applied twice (by the range read and again by
# the router) they took 141 and 191.
ROUTE_CALLS = {60: 121, 300: 171}


@pytest.fixture(scope="module")
def small_catalog(spark, tmp_path_factory):
    from adtk_spark.plans.incremental import refresh_tiers
    from adtk_spark.sources.catalog import TierCatalog
    from adtk_spark.sources.tokens import token_corpus

    cat = TierCatalog(str(tmp_path_factory.mktemp("route_cost") / "cat"))
    for seed, span in ((1, 3 * 86400), (2, 3600)):
        cat.commit(token_corpus(spark, 300, n_sources=4, seed=seed,
                                span_secs=span), "raw")
        refresh_tiers(cat, spark)
    return cat


@pytest.mark.parametrize("res", sorted(ROUTE_CALLS))
def test_routed_read_build_py4j_ceiling(spark, small_catalog, res):
    from adtk_spark.plans.router import route_from_catalog

    tables = {"1m": "tier_1m", "1h": "tier_1h", "1d": "tier_1d"}
    lo, hi = dt.datetime(2025, 1, 1), dt.datetime(2025, 1, 2)
    route_from_catalog(spark, small_catalog, tables, res, lo, hi)  # warm
    with py4j_commands() as n:
        route_from_catalog(spark, small_catalog, tables, res, lo, hi)
    assert n[0] <= ROUTE_CALLS[res], n[0]


QUANTILE_FITS = {
    "quantile_ad": (lambda d: D.quantile_ad(d, low=0.01, high=0.99),
                    lambda d: D.apply_bounds(d, D.quantile_ad_fit(d, 0.01, 0.99))),
    "quantile_ad_low": (lambda d: D.quantile_ad(d, low=0.3),
                        lambda d: D.apply_bounds(d, D.quantile_ad_fit(d, 0.3))),
    "quantile_ad_ends": (lambda d: D.quantile_ad(d, low=0.0, high=0.9),
                         lambda d: D.apply_bounds(d, D.quantile_ad_fit(d, 0.0, 0.9))),
    "iqr_ad": (lambda d: D.iqr_ad(d, c=1.5),
               lambda d: D.apply_bounds(d, D.iqr_ad_fit(d, 1.5))),
    "iqr_ad_high": (lambda d: D.iqr_ad(d, c=(None, 0.5), out_col="flag"),
                    lambda d: D.apply_bounds(d, D.iqr_ad_fit(d, (None, 0.5)),
                                             out_col="flag")),
}


@pytest.mark.parametrize("name", sorted(QUANTILE_FITS))
def test_quantile_fits_one_pass_no_broadcast(spark, tmp_path, name):
    """quantile_ad / iqr_ad fit as window quantiles: the rows and columns
    of fit + apply_bounds (tie-heavy values, NULL values, a NULL source
    and an all-NULL source), no BroadcastExchange, at most 2 jobs."""
    fit_detect, pair = QUANTILE_FITS[name]
    path = str(tmp_path / "series")
    _compound_series(spark, 11).write.parquet(path)
    df = spark.read.parquet(path)
    got, want = fit_detect(df), pair(df)
    assert got.columns == want.columns
    rows = _rows(got)
    assert rows == _rows(want)
    assert {r[-1] for r in rows} >= {0.0, 1.0}
    assert "BroadcastExchange" not in plan_of(got)
    with _jobs(spark, name) as ids:
        got.write.format("noop").mode("overwrite").save()
    assert len(ids) <= 2, ids
