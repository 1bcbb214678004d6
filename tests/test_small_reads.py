"""Small tier reads and refresh inputs read as one partition
(``plans.incremental.one_partition_if_small``): the same tier snapshots
and routed answers with the rule on and off, no Exchange in a small
routed read, and today's plan above the threshold, with the rule off
and for snapshots of unknown row count."""

import contextlib
import datetime as dt

import pytest

from adtk_spark.plans.incremental import read_tier_latest, refresh_tiers
from adtk_spark.plans.router import route_from_catalog
from adtk_spark.sources.catalog import TierCatalog
from tests.test_plans import count_exchanges, plan_of

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
TABLES = {"1m": "tier_1m", "1h": "tier_1h", "1d": "tier_1d"}
EPOCH = dt.datetime(1970, 1, 1)
T0 = dt.datetime(2025, 1, 1)
HOUR, DAY = 3600, 86400
# the (resolution, range) mix, in seconds, that perfbench's append_serve
# reads each round
MIX = [(60, HOUR), (60, 6 * HOUR), (300, DAY), (900, DAY), (3600, DAY),
       (3600, 7 * DAY), (21600, 7 * DAY), (86400, 7 * DAY)]


@contextlib.contextmanager
def threshold(spark, value):
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, value)
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, old)


def _points(spark, rows):
    return spark.createDataFrame(rows, "source string, ts timestamp, value double")


def _series(df):
    return df.select("source", "ts", "value")


def _batches(spark):
    """Three appends (integer values, so every sum is exact), a late row
    restating a minute already committed, then the second append
    committed again (a replayed snapshot)."""
    base = [(f"s{k}", T0 + dt.timedelta(minutes=7 * i + k), float((i * 13 + k) % 50))
            for k in range(3) for i in range(600)]
    end = T0 + dt.timedelta(minutes=7 * 600)
    nxt = [(f"s{k}", end + dt.timedelta(minutes=2 * i), float(i % 17))
           for k in range(3) for i in range(30)]
    third = [(f"s{k}", end + dt.timedelta(hours=2, minutes=i), float(k + i))
             for k in range(2) for i in range(50)]
    late = [("s0", T0 + dt.timedelta(minutes=14, seconds=30), 41.0)]
    return [_points(spark, b) for b in (base, nxt, third, late, nxt)]


def _build(spark, root):
    cat = TierCatalog(root)
    for batch in _batches(spark):
        cat.commit(batch, "raw")
        refresh_tiers(cat, spark, series_of=_series)
    return cat


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def catalogs(spark, tmp_path_factory):
    """The same inputs refreshed with the rule on (the default
    threshold) and off (threshold -1)."""
    root = tmp_path_factory.mktemp("small_reads")
    on = _build(spark, str(root / "on"))
    with threshold(spark, "-1"):
        off = _build(spark, str(root / "off"))
    return on, off


def test_refresh_snapshots_equal_with_rule_on_and_off(spark, catalogs):
    on, off = catalogs
    for table in TABLES.values():
        ids = on.snapshots(table)
        assert ids == off.snapshots(table) == [1, 2, 3, 4, 5]
        for i in ids:
            assert _rows(on.read_snapshot(spark, table, i)) == \
                _rows(off.read_snapshot(spark, table, i)), (table, i)
        assert _rows(read_tier_latest(on, spark, table)) == \
            _rows(read_tier_latest(off, spark, table)), table
    # the late row restated its minute: 2 points in it, latest-wins
    late = [r for r in read_tier_latest(on, spark, "tier_1m").collect()
            if r["source"] == "s0" and r["bucket_ts"] == T0 + dt.timedelta(minutes=14)]
    assert [(r["cnt"], r["vsum"]) for r in late] == [(2, 26.0 + 41.0)]


@pytest.mark.parametrize("quantile", [None, 0.5])
def test_routes_equal_with_rule_on_and_off(spark, catalogs, quantile):
    on, off = catalogs
    data_end = int((T0 + dt.timedelta(hours=73) - EPOCH).total_seconds())
    for res, span in MIX:
        end = -(-data_end // res) * res  # the latest window, as perfbench
        start = EPOCH + dt.timedelta(seconds=end - span)
        stop = EPOCH + dt.timedelta(seconds=end)
        got = _rows(route_from_catalog(spark, on, TABLES, res, start, stop, quantile))
        with threshold(spark, "-1"):
            want = _rows(route_from_catalog(spark, off, TABLES, res, start, stop,
                                            quantile))
        assert got == want and got, (res, span)


def _exchanges(spark, cat, res, bounded=True):
    lo, hi = (T0, T0 + dt.timedelta(days=1)) if bounded else (None, None)
    plan = plan_of(route_from_catalog(spark, cat, TABLES, res, lo, hi))
    return "Exchange" in plan, count_exchanges(plan)


@pytest.mark.parametrize("res,bounded", [(60, True), (300, True), (7200, False)])
def test_small_routed_read_plans_no_exchange(spark, catalogs, res, bounded):
    """An exact-width read (60 s), a re-merged one (300 s) and an
    unbounded one (the full-read branch) of a small tier."""
    on, _ = catalogs
    assert _exchanges(spark, on, res, bounded) == (False, 0)
    with threshold(spark, "-1"):
        assert _exchanges(spark, on, res, bounded)[1] >= 1


@pytest.mark.parametrize("res", [60, 300])
def test_read_above_threshold_keeps_exchange(spark, catalogs, res):
    on, _ = catalogs
    with threshold(spark, "-1"):
        today = _exchanges(spark, on, res)
    with threshold(spark, "2k"):
        assert _exchanges(spark, on, res) == today
    assert today[1] == (1 if res == 60 else 2)


def test_snapshot_without_rows_keeps_plan(spark, tmp_path):
    """A tier snapshot committed before lineage was recorded has no
    ``rows``: its reads plan as they did before the rule."""
    cat = TierCatalog(str(tmp_path / "old"))
    for batch in _batches(spark)[:2]:
        cat.commit(batch, "raw")
        refresh_tiers(cat, spark, series_of=_series)
    with threshold(spark, "-1"):
        today = _exchanges(spark, cat, 300)
    assert _exchanges(spark, cat, 300) == (False, 0)
    m = cat._load()
    m["tables"]["tier_1m"]["snapshots"][0].pop("rows")
    cat._store(m)
    assert cat.lineage("tier_1m")[1]["rows"] is None
    assert _exchanges(spark, cat, 300) == today
