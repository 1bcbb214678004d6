"""Small operator inputs run as one partition
(``session.one_partition_if_small``): each detect operator over a small
parquet read plans no Exchange and runs one Spark job, and gives the
rows it gives with the rule off; an input above the threshold, one
built from Python rows and a stream keep today's plan. Also the
argument checks of the operators the rule touches."""

import datetime as dt

import pytest

from adtk_spark.functions.windows import rolling_agg
from adtk_spark.operators import detectors as D
from adtk_spark.plans import gapfill as gf
from adtk_spark.plans import tiers
from adtk_spark.session import one_partition_if_small
from tests.test_catalog_resume import _jobs
from tests.test_driver_cost import BUILD_CALLS
from tests.test_plans import count_exchanges, plan_of
from tests.test_small_reads import threshold

T0 = dt.datetime(2025, 1, 1)
SCHEMA = "source string, ts timestamp, value double, label double"


@pytest.fixture(scope="module")
def small_path(spark, tmp_path_factory):
    """Three sources of minute points with NULL values and missing
    minutes, as parquet: Spark sizes a file read by its bytes."""
    rows = [(f"s{k}", T0 + dt.timedelta(minutes=i + i // 40 * 3),
             None if (i * 7 + k) % 23 == 0 else 100.0 + (i * 11 + k) % 17,
             float((i + k) % 6 == 0))
            for k in range(3) for i in range(240)]
    path = str(tmp_path_factory.mktemp("small_inputs") / "series")
    spark.createDataFrame(rows, SCHEMA).write.parquet(path)
    return path


def _size(df) -> int:
    return df._jdf.queryExecution().analyzed().stats().sizeInBytes()


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("name", sorted(BUILD_CALLS))
def test_small_parquet_input_runs_one_job(spark, small_path, name):
    build = BUILD_CALLS[name][0]
    out = build(spark.read.parquet(small_path))
    plan = plan_of(out)
    assert "Exchange" not in plan, plan
    with _jobs(spark, name) as ids:
        out.write.format("noop").mode("overwrite").save()
    assert len(ids) == 1, ids


@pytest.mark.parametrize("name", sorted(BUILD_CALLS))
def test_same_rows_with_rule_on_and_off(spark, small_path, name):
    build = BUILD_CALLS[name][0]
    on = _rows(build(spark.read.parquet(small_path)))
    with threshold(spark, "-1"):
        off = build(spark.read.parquet(small_path))
        assert count_exchanges(plan_of(off)) >= 1
        off = _rows(off)
    assert on == off and on


def test_input_above_threshold_keeps_plan(spark, small_path):
    """The threshold is inclusive: a read of exactly the threshold's
    size is coalesced, one byte more keeps the shuffled plan."""
    df = spark.read.parquet(small_path)
    size = _size(df)
    with threshold(spark, str(size)):
        assert one_partition_if_small(df) is not df
        assert "Exchange" not in plan_of(rolling_agg(df, 5, "mean"))
    with threshold(spark, str(size - 1)):
        assert one_partition_if_small(df) is df
        assert count_exchanges(plan_of(rolling_agg(df, 5, "mean"))) == 1


def test_python_rows_keep_plan(spark):
    """A frame built from Python rows reports Spark's default size,
    far above any threshold: it keeps its shuffled plan."""
    df = spark.createDataFrame([("a", T0, 1.0, 0.0)], SCHEMA)
    assert _size(df) > 2 ** 40
    assert one_partition_if_small(df) is df
    assert count_exchanges(plan_of(rolling_agg(df, 5, "mean"))) == 1


def test_stream_keeps_plan(spark, small_path):
    stream = spark.readStream.schema(SCHEMA).parquet(small_path)
    assert one_partition_if_small(stream) is stream


@pytest.mark.parametrize("low,high", [(1.5, None), (None, -0.1), (0.1, float("nan"))])
def test_quantile_levels_outside_unit_interval_raise(spark, low, high):
    df = spark.createDataFrame([("a", T0, 1.0, 0.0)], SCHEMA)
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        D.quantile_ad(df, low=low, high=high)
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        D.quantile_ad_fit(df, low, high)


@pytest.mark.parametrize("edges", [[], [3.0, 1.0], [1.0, 1.0]])
@pytest.mark.parametrize("op", [tiers.psi_drift, tiers.js_drift])
def test_drift_bin_edges_must_increase(spark, op, edges):
    df = spark.createDataFrame([("a", T0, 1.0, 0.0)], SCHEMA)
    with pytest.raises(ValueError, match="strictly increasing"):
        op(df, T0, edges)


@pytest.mark.parametrize("freq", ["0min", "-1min", "500ms", "1500ms"])
@pytest.mark.parametrize("op", [gf.time_spine, gf.gap_report])
def test_gapfill_freq_must_be_positive(spark, op, freq):
    """A non-positive step fails when the plan is built, not as a JVM
    error when it runs; a step that is not whole seconds fails too,
    where the spine used to step by its truncated seconds."""
    df = spark.createDataFrame([("a", T0, 1.0, 0.0)], SCHEMA)
    with pytest.raises(ValueError, match="positive"):
        op(df, freq)
