"""Shared fixtures: one local SparkSession, canonical adtk daily series.

The canonical fixture replicates the reference's universal test input
(/root/reference/tests/test_detector1d.py:328-330): values on a daily
DatetimeIndex starting 2017-01-01. Every series is materialized under
two sources ('A', 'B') to replicate the reference's DataFrame-broadcast
tests (same oracle must hold per source) — in Spark that exercises the
partitionBy(source) fan-out, which is the engine's core parallel axis.
"""

from __future__ import annotations

import datetime as dt
import math
import tempfile

import pytest
from pyspark.sql import SparkSession

NAN = float("nan")


@pytest.fixture(scope="session")
def spark():
    from adtk_spark.session import get_spark

    s = get_spark("adtk_spark-tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()


def series_rows(values, start="2017-01-01", freq_hours=24, sources=("A", "B")):
    t0 = dt.datetime.fromisoformat(start)
    rows = []
    for src in sources:
        for i, v in enumerate(values):
            val = None if (v is None or (isinstance(v, float) and math.isnan(v))) else float(v)
            rows.append((src, t0 + dt.timedelta(hours=freq_hours * i), val))
    return rows


def series_df(spark: SparkSession, values, start="2017-01-01", freq_hours=24, sources=("A", "B")):
    return spark.createDataFrame(
        series_rows(values, start, freq_hours, sources),
        "source string, ts timestamp, value double",
    )


def fetch(df, col, sources=("A", "B")):
    """Collect `col` ordered by ts, asserting every source got identical output.

    Returns the per-source list (None for NULL).
    """
    from pyspark.sql import functions as F

    rows = df.select(df["source"], df["ts"], F.col(f"`{col}`").alias("v")).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append((r["ts"], r["v"]))
    out = None
    for src in sources:
        got = [v for _, v in sorted(by_src.get(src, []), key=lambda x: x[0])]
        if out is None:
            out = got
        else:
            assert _eq_list(got, out), f"source {src} diverged: {got} vs {out}"
    return out


def assert_layout_invariant(spark, df, op):
    """Assert that ``op(df)`` emits identical rows whatever the input
    partitioning (1 vs 13), the shuffle width (1 vs 7, with AQE
    coalescing off so the width is really used) and whether small
    inputs run as one partition (``session.one_partition_if_small``:
    the default ``spark.sql.autoBroadcastJoinThreshold`` vs -1); return
    the rows, sorted. ``df`` is read back from a parquet copy, so Spark
    knows its size and the rule applies to it: a frame built from
    Python rows has no size estimate and keeps the shuffled plan."""
    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.autoBroadcastJoinThreshold")
    prev = {k: spark.conf.get(k) for k in keys}
    got = {}
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(tmp + "/input")
        df = spark.read.parquet(tmp + "/input")
        try:
            spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
            for rule in (prev["spark.sql.autoBroadcastJoinThreshold"], "-1"):
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", rule)
                for width in (1, 7):
                    spark.conf.set("spark.sql.shuffle.partitions", str(width))
                    for parts in (1, 13):
                        got[(rule, width, parts)] = sorted(
                            (tuple(r) for r in op(df.repartition(parts)).collect()),
                            key=repr)
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)
    want = next(iter(got.values()))
    assert want
    for layout, rows in got.items():
        assert rows == want, layout
    return want


def _eq(a, b, tol=1e-9):
    if a is None and b is None:
        return True
    if a is None or b is None:
        return False
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=tol, abs_tol=tol)
    return a == b


def _eq_list(got, want, tol=1e-9):
    return len(got) == len(want) and all(_eq(g, w, tol) for g, w in zip(got, want))


def assert_series(df, col, expected, tol=1e-9):
    """Compare df[col] (ordered by ts, per source) against expected list.

    NaN/None in expected mean SQL NULL.
    """
    want = [None if (w is None or (isinstance(w, float) and math.isnan(w))) else float(w) for w in expected]
    got = fetch(df, col)
    assert _eq_list(got, want, tol), f"\n got: {got}\nwant: {want}"
