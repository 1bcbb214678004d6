"""TierCatalog snapshot/commit/read-since + kill-and-resume refresh."""

import contextlib
import datetime as dt
import os
import uuid

import pytest
from pyspark.sql import functions as F

from adtk_spark.plans.incremental import (
    WATERMARK_KEY,
    read_tier_latest,
    refresh_tiers,
)
from adtk_spark.sources.catalog import TierCatalog
from adtk_spark.sources.tokens import token_corpus


def test_catalog_commit_read_since(spark, tmp_path):
    cat = TierCatalog(str(tmp_path / "cat"))
    df1 = spark.range(5).select(F.col("id").alias("x"))
    df2 = spark.range(5, 8).select(F.col("id").alias("x"))
    s1 = cat.commit(df1, "t")
    s2 = cat.commit(df2, "t")
    assert (s1, s2) == (1, 2)
    assert cat.read(spark, "t").count() == 8
    assert cat.read_since(spark, "t", s1).count() == 3
    assert cat.read_since(spark, "t", s2) is None
    assert cat.last_snapshot("t") == 2
    assert cat.last_snapshot("missing") is None


def test_incremental_refresh_and_resume(spark, tmp_path):
    cat = TierCatalog(str(tmp_path / "tiers"))
    c1 = token_corpus(spark, 2000, n_sources=8, seed=1, span_secs=3600)
    c2 = token_corpus(spark, 1000, n_sources=8, seed=2, span_secs=3600)

    cat.commit(c1, "raw")
    r1 = refresh_tiers(cat, spark)
    assert r1["processed"] == 1
    full_1m_a = read_tier_latest(cat, spark, "tier_1m")
    n_a = full_1m_a.count()
    assert n_a > 0

    # second ingest + refresh: restated buckets resolve latest-wins
    cat.commit(c2, "raw")
    r2 = refresh_tiers(cat, spark)
    assert r2["processed"] == 1
    merged = read_tier_latest(cat, spark, "tier_1m")
    # tier must equal a from-scratch rollup of all raw data
    from adtk_spark.plans.tiers import rollup_raw
    from adtk_spark.sources.tokens import token_series

    expected = rollup_raw(token_series(cat.read(spark, "raw").drop("snap")), "1m")
    got = {(r["source"], r["bucket_ts"], r["cnt"], r["vsum"]) for r in merged.collect()}
    want = {(r["source"], r["bucket_ts"], r["cnt"], r["vsum"]) for r in expected.collect()}
    assert got == want

    # resume semantics: nothing new -> no-op (watermark caught up)
    r3 = refresh_tiers(cat, spark)
    assert r3["processed"] == 0

    # "kill and restart": a fresh catalog object over the same root sees
    # the committed watermark and does not reprocess
    cat2 = TierCatalog(str(tmp_path / "tiers"))
    assert cat2.get_watermark(WATERMARK_KEY) == cat.get_watermark(WATERMARK_KEY)
    assert refresh_tiers(cat2, spark)["processed"] == 0

    # lineage recorded in the manifest for every tier commit
    for table in ("tier_1m", "tier_1h", "tier_1d"):
        lin = cat.lineage(table)
        assert len(lin) == 2
        assert all(e["rows"] > 0 for e in lin.values())


def test_bucketed_compaction_no_exchange(spark, tmp_path):
    """The read-optimized bucketed tier view: (a) same data as the plain
    snapshot read, (b) a per-source window pass over it plans ZERO
    Exchange (the bucketed scan's HashPartitioning satisfies the
    Window's distribution) vs exactly one on the plain parquet read."""
    from pyspark.sql import Window

    from adtk_spark.plans.tiers import rollup_raw
    from adtk_spark.sources.catalog import TierCatalog
    from adtk_spark.sources.tokens import token_corpus, token_series

    cat = TierCatalog(str(tmp_path / "cat"))
    t1m = rollup_raw(
        token_series(token_corpus(spark, 2000, n_sources=8, seed=9)), "1m")
    cat.commit(t1m, "tier_1m")
    name = cat.commit_bucketed(cat.read(spark, "tier_1m").drop("snap"),
                               "tier_1m", buckets=8)
    try:
        bkt = cat.read_bucketed(spark, "tier_1m")
        plain = cat.read(spark, "tier_1m").drop("snap")

        key = lambda r: (r["source"], r["bucket_ts"], r["cnt"], r["vsum"])
        assert {key(r) for r in bkt.collect()} == {key(r) for r in plain.collect()}

        w = Window.partitionBy("source").orderBy("bucket_ts").rowsBetween(-5, -1)
        proj = [F.col("source"), F.col("bucket_ts"),
                F.avg("mean").over(w).alias("r")]
        plan_bkt = bkt.select(*proj)._jdf.queryExecution() \
            .executedPlan().toString()
        plan_plain = plain.select(*proj)._jdf.queryExecution() \
            .executedPlan().toString()
        assert plan_bkt.count("Exchange") == 0
        assert "Bucketed: true" in plan_bkt
        assert plan_plain.count("Exchange") == 1

        # metastore registrations are per-session: a fresh catalog
        # object must self-register the external bucketed table from
        # the manifest (simulated by dropping the session's table)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        cat2 = TierCatalog(str(tmp_path / "cat"))
        bkt2 = cat2.read_bucketed(spark, "tier_1m")
        plan2 = bkt2.select(*proj)._jdf.queryExecution() \
            .executedPlan().toString()
        assert plan2.count("Exchange") == 0
        assert {key(r) for r in bkt2.collect()} == {key(r) for r in plain.collect()}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_partitioned_commit_prunes_retention_scan(spark, tmp_path):
    """Day-partitioned tier snapshots: a retention cutoff reaches the
    scan as a PartitionFilter (directories pruned, old files never
    opened) and the kept rows match an unpartitioned filter."""
    from adtk_spark.plans.tiers import retention_filter, rollup_raw
    from adtk_spark.sources.catalog import TierCatalog
    from adtk_spark.sources.tokens import token_corpus, token_series

    cat = TierCatalog(str(tmp_path / "cat"))
    t1m = rollup_raw(
        token_series(token_corpus(spark, 3000, n_sources=4, seed=13,
                                  span_secs=4 * 86400)), "1m"
    ).withColumn("day", F.to_date("bucket_ts"))
    cat.commit(t1m, "tier_1m", partition_by=["day"])

    stored = cat.read(spark, "tier_1m").drop("snap")
    cutoff = t1m.agg(F.max("bucket_ts")).first()[0]
    import datetime as dt

    keep_after = (cutoff - dt.timedelta(days=2)).date()
    kept = stored.where(F.col("day") >= F.lit(keep_after))
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the day filter must be IN the partition filters, not a data filter
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "day" in pf

    want = {(r["source"], r["bucket_ts"]) for r in retention_filter(
        t1m, dt.datetime.combine(keep_after, dt.time())).collect()}
    got = {(r["source"], r["bucket_ts"]) for r in kept.collect()}
    assert got == want and len(got) > 0


def test_manifest_zone_map_pruning(spark, tmp_path):
    """commit records min/max(bucket_ts) in the manifest; read_range
    skips whole snapshot dirs on the driver, and latest-wins restatement
    survives the pruning."""
    import datetime as dt

    from adtk_spark.plans.incremental import read_tier_latest

    cat = TierCatalog(str(tmp_path / "zm"))
    for day in (1, 2, 3):
        df = spark.createDataFrame(
            [("s", dt.datetime(2025, 3, day, h), float(h)) for h in range(4)],
            "source string, bucket_ts timestamp, mean double")
        cat.commit(df, "t")

    lo, hi = dt.datetime(2025, 3, 2), dt.datetime(2025, 3, 3)
    assert cat.snapshots_in_range("t", lo, hi) == [2]
    d2 = cat.read_range(spark, "t", lo, hi)
    files = d2.inputFiles()
    assert files and all("snap=2" in f for f in files)  # dirs 1/3 never read
    assert d2.count() == 4
    assert cat.read(spark, "t").count() == 12  # unbounded read: everything

    # snapshot 4 restates day-2 hour-0: its stats cover the range, so
    # range pruning keeps it and latest-wins returns the restated row
    cat.commit(spark.createDataFrame(
        [("s", dt.datetime(2025, 3, 2, 0), 99.0)],
        "source string, bucket_ts timestamp, mean double"), "t")
    assert cat.snapshots_in_range("t", lo, hi) == [2, 4]
    latest = read_tier_latest(cat, spark, "t", lo, hi)
    got = {r["bucket_ts"]: r["mean"] for r in latest.collect()}
    assert got[dt.datetime(2025, 3, 2, 0)] == 99.0
    assert len(got) == 4


def test_route_from_catalog_prunes_snapshots(spark, tmp_path):
    """A time-bounded routed query only scans manifest-surviving
    snapshot dirs of the serving tier."""
    import datetime as dt

    from adtk_spark.plans.router import route_from_catalog

    cat = TierCatalog(str(tmp_path / "rt"))
    for day in (1, 2):
        df = spark.createDataFrame(
            [("s", dt.datetime(2025, 4, day, 0, m), 1.0 * m, 1, 1.0 * m,
              1.0 * m, 1.0 * m)
             for m in range(30)],
            "source string, bucket_ts timestamp, mean double, cnt long,"
            " vmin double, vmax double, vsum double")
        cat.commit(df, "tier_1m")
    routed = route_from_catalog(
        spark, cat, {"1m": "tier_1m"}, 60,
        start=dt.datetime(2025, 4, 2), end=dt.datetime(2025, 4, 3))
    assert all("snap=2" in f for f in routed.inputFiles())
    assert routed.count() == 30


def test_compact_tier_and_vacuum(spark, tmp_path):
    """Many per-epoch snapshots -> one compacted snapshot: identical
    latest-wins answer, single-dir scan, vacuum removes the old dirs."""
    import datetime as dt
    import os

    from adtk_spark.plans.incremental import compact_tier, read_tier_latest

    cat = TierCatalog(str(tmp_path / "cp"))
    # 5 epochs; epochs 3..5 restate minute 0 with a new value
    for epoch in range(5):
        cat.commit(spark.createDataFrame(
            [("s", dt.datetime(2025, 5, 1, 0, min(epoch, 2)), float(epoch))],
            "source string, bucket_ts timestamp, mean double"), "tier_1m")
    before = {(r["source"], r["bucket_ts"]): r["mean"]
              for r in read_tier_latest(cat, spark, "tier_1m").collect()}
    assert before[("s", dt.datetime(2025, 5, 1, 0, 2))] == 4.0  # latest wins

    new_id = compact_tier(cat, spark, "tier_1m")
    assert new_id == 6 and cat.snapshots("tier_1m") == [6]
    after_df = read_tier_latest(cat, spark, "tier_1m")
    after = {(r["source"], r["bucket_ts"]): r["mean"]
             for r in after_df.collect()}
    assert after == before  # compaction is a pure rewrite
    assert all("snap=6" in f for f in after_df.inputFiles())  # one dir

    # old dirs survive until vacuum (in-flight reader grace), then go
    assert os.path.isdir(os.path.join(cat.root, "tier_1m", "snap=1"))
    removed = cat.vacuum("tier_1m")
    assert len(removed) == 5
    assert not os.path.isdir(os.path.join(cat.root, "tier_1m", "snap=1"))
    assert {(r["source"], r["bucket_ts"]): r["mean"]
            for r in read_tier_latest(cat, spark, "tier_1m").collect()} == before

    # idempotence: nothing left to compact
    assert compact_tier(cat, spark, "tier_1m") is None


def test_range_read_after_compact_vacuum(spark, tmp_path):
    """Regression (r03 ADVICE high): snapshots_in_range must exclude
    superseded snapshot ids like snapshots() does. Before the fix, a
    time-bounded read after compact_tier + vacuum built paths to the
    deleted snap= dirs and the parquet scan failed PATH_NOT_FOUND."""
    import datetime as dt

    from adtk_spark.plans.incremental import compact_tier, read_tier_latest

    cat = TierCatalog(str(tmp_path / "cp"))
    for epoch in range(3):
        cat.commit(spark.createDataFrame(
            [("s", dt.datetime(2025, 5, 1, 0, epoch), float(epoch))],
            "source string, bucket_ts timestamp, mean double"), "tier_1m")
    lo, hi = dt.datetime(2025, 5, 1), dt.datetime(2025, 5, 2)
    # pre-vacuum: range listing must already skip superseded ids
    compact_tier(cat, spark, "tier_1m")
    assert cat.snapshots_in_range("tier_1m", lo, hi) == [4]
    cat.vacuum("tier_1m")
    # post-vacuum: both the bare range read and the latest-wins
    # bounded read plan only against live dirs and return all rows
    ranged = cat.read_range(spark, "tier_1m", lo, hi)
    assert all("snap=4" in f for f in ranged.inputFiles())
    assert ranged.count() == 3
    latest = read_tier_latest(cat, spark, "tier_1m", lo, hi)
    assert {r["mean"] for r in latest.collect()} == {0.0, 1.0, 2.0}


# -- manifest-held stats and schema --------------------------------------

@contextlib.contextmanager
def _jobs(spark, name):
    """Collect the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    group = f"{name}-{uuid.uuid4().hex}"
    ids = []
    sc.setJobGroup(group, name)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # the status tracker is fed by the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _inferred(spark, cat, table):
    """What a parquet read of every live snapshot infers, as before the
    manifest recorded schemas."""
    paths = [os.path.join(cat.root, table, f"snap={i}")
             for i in cat.snapshots(table)]
    return spark.read.option("basePath", os.path.join(cat.root, table)) \
        .parquet(*paths)


def _strip_schemas(cat):
    """Rewrite the manifest as one written before schemas were recorded."""
    m = cat._load()
    for t in m["tables"].values():
        t.pop("schema", None)
    cat._store(m)


def _minutes(spark, day, n):
    return spark.createDataFrame(
        [("s", dt.datetime(2025, 6, day, 0, m), float(m)) for m in range(n)],
        "source string, bucket_ts timestamp, mean double")


@pytest.mark.parametrize("case", ["rows", "empty", "partition_by"])
def test_commit_observed_stats_match_reread(spark, tmp_path, case):
    """The zone map observed during the write equals a min/max scan of
    the written snapshot, and the commit runs one job: the write."""
    cat = TierCatalog(str(tmp_path / "obs"))
    df = _minutes(spark, 3, 40).union(_minutes(spark, 1, 5))
    kw = {}
    if case == "empty":
        df = df.where(F.col("mean") < 0)
    elif case == "partition_by":
        df = df.withColumn("day", F.to_date("bucket_ts"))
        kw = {"partition_by": ["day"]}
    with _jobs(spark, "commit") as ids:
        snap = cat.commit(df, "t", **kw)
    if case != "partition_by":  # a partitioned write may sort first
        assert len(ids) == 1

    entry = cat._table("t")["snapshots"][0]
    row = spark.read.parquet(os.path.join(cat.root, "t", f"snap={snap}")).agg(
        F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi")).first()
    if case == "empty":
        assert row["lo"] is None and "stats" not in entry
    else:
        assert entry["stats"] == {"col": "bucket_ts",
                                  "min": row["lo"].isoformat(),
                                  "max": row["hi"].isoformat()}
        assert row["lo"] == dt.datetime(2025, 6, 1)


def _raw_ntz(spark, first):
    return spark.createDataFrame(
        [(f"d{i}", [i, i + 1], "s", dt.datetime(2025, 6, 1, 0, i % 60, 5))
         for i in range(first, first + 30)],
        "doc_id string, tokens array<int>, source string, ts timestamp_ntz")


@pytest.mark.parametrize("kind", ["raw", "tier", "sketch_tier"])
def test_stored_schema_read_equals_inferred(spark, tmp_path, kind):
    """A read planned from the recorded schema has exactly the schema
    (nullability and the ``snap`` partition column included) and rows a
    parquet-inferring read has."""
    from adtk_spark.plans.tiers import rollup_raw, rollup_raw_sketch

    cat = TierCatalog(str(tmp_path / "sch"))
    series = spark.createDataFrame(
        [("s", dt.datetime(2025, 6, 1, 0, i // 3), float(i)) for i in range(30)],
        "source string, ts timestamp, value double")
    for first in (0, 30):
        if kind == "raw":
            df = _raw_ntz(spark, first)
        elif kind == "tier":
            df = rollup_raw(series, "1m")
        else:
            df = rollup_raw_sketch(series, "1m")
        cat.commit(df, kind)
    assert "schema" in cat._table(kind)
    with _jobs(spark, "read") as ids:
        got = cat.read(spark, kind)
    assert ids == []
    want = _inferred(spark, cat, kind)
    assert got.schema == want.schema
    assert ("ts", "timestamp_ntz") in got.dtypes or kind != "raw"
    assert ("vdigest" in got.columns) == (kind == "sketch_tier")
    assert sorted(got.collect()) == sorted(want.collect())


def test_mixed_or_partitioned_table_falls_back_to_inference(spark, tmp_path):
    """A second snapshot schema, or a partition_by commit, drops the
    table's recorded schema; reads then infer it as before."""
    cat = TierCatalog(str(tmp_path / "mix"))
    cat.commit(spark.range(3).select(F.col("id").alias("x")), "t")
    cat.commit(spark.range(3).select(F.col("id").alias("x")), "t")
    assert "schema" in cat._table("t")  # same schema twice: kept
    cat.commit(spark.range(3).select(F.col("id").alias("x"),
                                     F.lit("a").alias("y")), "t")
    assert "schema" not in cat._table("t")
    cat.commit(spark.range(3).select(F.col("id").alias("x")), "t")
    assert "schema" not in cat._table("t")  # never re-recorded
    got = cat.read(spark, "t")
    assert got.schema == _inferred(spark, cat, "t").schema
    assert got.count() == 12

    cat.commit(_minutes(spark, 2, 3).withColumn("day", F.to_date("bucket_ts")),
               "p", partition_by=["day"])
    assert "schema" not in cat._table("p")
    p = cat.read(spark, "p")
    assert dict(p.dtypes)["day"] == "date" and p.count() == 3


def test_manifest_without_schema_reads_and_refreshes(spark, tmp_path):
    """A catalog whose manifest predates recorded schemas still reads
    and refreshes exactly; its tables stay on inference."""
    from adtk_spark.plans.tiers import rollup_raw
    from adtk_spark.sources.tokens import token_series

    cat = TierCatalog(str(tmp_path / "old"))
    cat.commit(token_corpus(spark, 600, n_sources=4, seed=3,
                            span_secs=7200), "raw")
    refresh_tiers(cat, spark)
    _strip_schemas(cat)
    cat.commit(token_corpus(spark, 300, n_sources=4, seed=4,
                            span_secs=7200), "raw")
    assert refresh_tiers(cat, spark)["processed"] == 1
    assert "_lineage" not in cat._load()["tables"]
    for table in ("raw", "tier_1m", "tier_1h", "tier_1d"):
        assert "schema" not in cat._table(table)
        assert cat.read(spark, table).schema == \
            _inferred(spark, cat, table).schema
    full = token_series(cat.read(spark, "raw").drop("snap"))
    key = lambda r: (r["source"], r["bucket_ts"], r["cnt"], r["vsum"])
    for tier, want in (("tier_1m", rollup_raw(full, "1m")),
                       ("tier_1d", rollup_raw(full, "1d"))):
        got = read_tier_latest(cat, spark, tier)
        assert {key(r) for r in got.collect()} == \
            {key(r) for r in want.collect()}


@pytest.mark.parametrize("recorded", [True, False])
def test_sketch_flavor_guards_raise(spark, tmp_path, recorded):
    """Both sketch/no-sketch guards in refresh_tiers still raise, with
    the tier_1m columns from the manifest or, without a recorded
    schema, inferred."""
    for first, second, match in ((False, True, "no vdigest"),
                                 (True, False, "carry a vdigest")):
        cat = TierCatalog(str(tmp_path / f"g{first}"))
        cat.commit(token_corpus(spark, 200, n_sources=2, seed=5,
                                span_secs=600), "raw")
        refresh_tiers(cat, spark, sketch=first)
        if not recorded:
            _strip_schemas(cat)
        cat.commit(token_corpus(spark, 100, n_sources=2, seed=6,
                                span_secs=600), "raw")
        with pytest.raises(ValueError, match=match):
            refresh_tiers(cat, spark, sketch=second)


def test_lineage_reads_only_its_own_snapshot(spark, tmp_path):
    """commit_with_lineage records the snapshot it committed, even when
    another writer (e.g. the streaming sink) commits to the same table
    right after it."""
    from adtk_spark.plans.incremental import commit_with_lineage

    other = _minutes(spark, 2, 7)

    class RacingCatalog(TierCatalog):
        def commit(self, df, table, *a, **kw):
            snap = super().commit(df, table, *a, **kw)
            if table == "t" and snap == 1:
                super().commit(other, "t")  # lands right after snapshot 1
            return snap

    cat = RacingCatalog(str(tmp_path / "race"))
    assert commit_with_lineage(cat, _minutes(spark, 1, 5), "t") == 1
    assert cat.snapshots("t") == [1, 2]
    lin = cat.lineage("t")
    assert lin[1]["rows"] == 5
    assert lin[1]["max"] == dt.datetime(2025, 6, 1, 0, 4).isoformat()
    assert lin[2]["rows"] == 7


def test_lineage_from_manifest_without_jobs(spark, tmp_path):
    """Every live snapshot's rows, min/max, n_sources and committed_at
    come from the manifest with zero Spark jobs and equal a scan of the
    snapshot; superseded snapshots drop out."""
    from adtk_spark.plans.incremental import compact_tier

    cat = TierCatalog(str(tmp_path / "lin"))
    two = _minutes(spark, 1, 3).union(
        _minutes(spark, 1, 2).withColumn("source", F.lit("u")))
    cat.commit(two, "t")
    cat.commit(_minutes(spark, 2, 4).where(F.col("mean") < 0), "t")  # empty
    cat.commit(spark.range(6).select(F.col("id").alias("x")), "plain")
    with _jobs(spark, "lineage") as ids:
        lin, plain = cat.lineage("t"), cat.lineage("plain")
    assert ids == []

    for snap, e in lin.items():
        got = cat.read_snapshot(spark, "t", snap).agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("source").alias("n_sources"),
            F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi"),
        ).first()
        assert (e["rows"], e["n_sources"]) == (got["rows"], got["n_sources"])
        assert (e["min"], e["max"]) == (
            got["lo"] and got["lo"].isoformat(),
            got["hi"] and got["hi"].isoformat())
        assert e["committed_at"] <= dt.datetime.now().timestamp()
    assert [(e["rows"], e["n_sources"]) for e in lin.values()] == \
        [(5, 2), (0, 0)]
    assert plain == {1: {"rows": 6, "n_sources": None, "min": None,
                         "max": None,
                         "committed_at": plain[1]["committed_at"]}}

    assert compact_tier(cat, spark, "t") == 3
    assert list(cat.lineage("t")) == [3]
    assert cat.lineage("t")[3]["rows"] == 5
    assert not os.path.exists(os.path.join(cat.root, "_lineage"))


def test_manifest_without_lineage_reads_prunes_and_refreshes(spark, tmp_path):
    """A manifest written before lineage was recorded (no ``rows`` /
    ``n_sources`` in its entries) still reads, prunes and refreshes
    exactly; its old snapshots report None rows, new ones are counted."""
    from adtk_spark.plans.tiers import rollup_raw
    from adtk_spark.sources.tokens import token_series

    cat = TierCatalog(str(tmp_path / "old"))
    cat.commit(token_corpus(spark, 600, n_sources=4, seed=3,
                            span_secs=7200), "raw")
    refresh_tiers(cat, spark)
    m = cat._load()
    for t in m["tables"].values():
        for e in t["snapshots"]:
            e.pop("rows"), e.pop("n_sources", None)
    cat._store(m)
    assert cat.lineage("tier_1m")[1]["rows"] is None

    cat.commit(token_corpus(spark, 300, n_sources=4, seed=4,
                            span_secs=7200), "raw")
    assert refresh_tiers(cat, spark)["processed"] == 1
    lin = cat.lineage("tier_1m")
    assert lin[1]["rows"] is None and lin[2]["rows"] > 0
    assert lin[2]["n_sources"] == 4

    full = token_series(cat.read(spark, "raw").drop("snap"))
    key = lambda r: (r["source"], r["bucket_ts"], r["cnt"], r["vsum"])
    got = read_tier_latest(cat, spark, "tier_1m")
    assert {key(r) for r in got.collect()} == \
        {key(r) for r in rollup_raw(full, "1m").collect()}
    lo = dt.datetime.fromisoformat(lin[1]["max"]) + dt.timedelta(days=1)
    assert cat.snapshots_in_range("tier_1m", lo, None) == []
    assert cat.snapshots_in_range("tier_1m", None, lo) == [1, 2]


def test_tier_commit_runs_no_job_beyond_bare_commit(spark, tmp_path):
    """commit_with_lineage runs exactly the jobs of a bare commit of the
    same frame: lineage costs no read-back and no second commit."""
    from adtk_spark.plans.incremental import commit_with_lineage
    from adtk_spark.plans.tiers import rollup_raw

    series = spark.createDataFrame(
        [("s", dt.datetime(2025, 6, 1, 0, i // 3), float(i)) for i in range(30)],
        "source string, ts timestamp, value double")
    cat = TierCatalog(str(tmp_path / "jobs"))
    with _jobs(spark, "bare") as bare:
        cat.commit(rollup_raw(series, "1m"), "bare")
    with _jobs(spark, "tier") as tier:
        commit_with_lineage(cat, rollup_raw(series, "1m"), "tier_1m")
    assert len(tier) == len(bare), (tier, bare)
    assert cat.lineage("tier_1m")[1]["rows"] == 10
    assert set(cat._load()["tables"]) == {"bare", "tier_1m"}


# Spark jobs of the one-append refresh_tiers below, as measured at 4
# cores; a commit that re-reads its snapshot (or writes a lineage side
# table), a read that infers its schema or a restatement that re-runs
# the raw rollup pushes it over.
REFRESH_JOBS = 14


def test_refresh_and_reads_job_budget(spark, tmp_path):
    """Job-count guard: a one-append refresh_tiers on a tiny catalog
    stays within REFRESH_JOBS Spark jobs, and building catalog reads
    starts none (a reintroduced re-read or inference job fails here)."""
    cat = TierCatalog(str(tmp_path / "jobs"))
    cat.commit(token_corpus(spark, 300, n_sources=4, seed=1,
                            span_secs=3600), "raw")
    refresh_tiers(cat, spark)
    cat.commit(token_corpus(spark, 100, n_sources=4, seed=2,
                            span_secs=3600), "raw")
    with _jobs(spark, "refresh") as ids:
        assert refresh_tiers(cat, spark)["processed"] == 1
    assert len(ids) <= REFRESH_JOBS, len(ids)

    lo, hi = dt.datetime(2025, 1, 1), dt.datetime(2025, 1, 2)
    with _jobs(spark, "reads") as ids:
        for table in ("raw", "tier_1m", "tier_1h", "tier_1d"):
            assert all(e["rows"] > 0 for e in cat.lineage(table).values())
            assert cat.read(spark, table) is not None
            assert cat.read_range(spark, table, lo, hi) is not None
        read_tier_latest(cat, spark, "tier_1h", lo, hi)
    assert ids == []
