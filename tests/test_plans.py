"""Physical-plan shape guards: the scale properties the engine is built
around, asserted on the optimized plans so a regression (extra shuffle,
broadcast falling back to sort-merge, partial aggregation lost) fails
CI instead of surfacing as a 100x slowdown at cluster scale."""

import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import assert_layout_invariant, series_df


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def count_exchanges(plan: str) -> int:
    # count shuffle exchanges only (not broadcast exchanges)
    return len(re.findall(r"Exchange hashpartitioning", plan))


def test_rolling_agg_single_exchange(spark):
    from adtk_spark.functions.windows import rolling_agg

    df = series_df(spark, list(range(50)))
    out = rolling_agg(df, 5, "mean", out_col="m")
    out = rolling_agg(out, 7, "median", center=True, out_col="md")
    plan = plan_of(out)
    # two rolling ops over the same (source, ts) ordering must share ONE
    # shuffle — window specs are aligned on unix_micros(ts) for this
    assert count_exchanges(plan) == 1, plan


def test_detector_predict_is_broadcast_join(spark):
    from adtk_spark.operators.detectors import apply_bounds, quantile_ad_fit

    df = series_df(spark, list(range(50)))
    plan = plan_of(apply_bounds(df, quantile_ad_fit(df, low=0.1, high=0.9)))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_rollup_has_mapside_partial_aggregation(spark):
    from adtk_spark.plans.tiers import rollup_raw

    df = series_df(spark, list(range(50)))
    t1m = rollup_raw(df.withColumnRenamed("ts", "ts"), "1m")
    plan = plan_of(t1m)
    # partial_* before the exchange = map-side combine is in effect
    pre_exchange = plan.split("Exchange hashpartitioning")[-1]
    assert "partial_count" in pre_exchange and "partial_min" in pre_exchange, plan
    assert count_exchanges(plan) == 1, plan


def test_mixed_double_rolling_no_extra_shuffle(spark):
    from adtk_spark.functions.windows import double_rolling_agg

    df = series_df(spark, list(range(50)))
    out = double_rolling_agg(df, ("3D", 2), agg="mean", center=False,
                             diff="l1", out_col="d")
    # time-left/int-right composes three window ops over one shuffle
    assert count_exchanges(plan_of(out)) == 1


def test_sax_two_exchanges_broadcast_stats(spark):
    from adtk_spark.plans.tiers import sax_downsample

    df = series_df(spark, list(range(50))).withColumnRenamed(
        "ts", "bucket_ts").withColumnRenamed("value", "mean")
    plan = plan_of(sax_downsample(df, segment_secs=240))
    # per-source stats + per-segment PAA are the only shuffles; the
    # tiny stats table joins back as a broadcast, never a SMJ
    assert count_exchanges(plan) == 2, plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan


def test_psi_drift_two_exchanges_broadcast_totals(spark):
    from adtk_spark.plans.tiers import psi_drift

    import datetime as dt

    df = series_df(spark, list(range(50)))
    plan = plan_of(psi_drift(df, dt.datetime(2025, 1, 1, 12), [10.0, 20.0]))
    # (source,bin) counts then a source repartition shared by the
    # totals window AND the final reduce — two Exchanges, zero joins
    assert count_exchanges(plan) == 2, plan
    assert "Join" not in plan, plan


def test_psi_timeline_two_exchanges_no_join(spark):
    from adtk_spark.plans.tiers import psi_timeline

    df = series_df(spark, list(range(50)))
    plan = plan_of(psi_timeline(df, [10.0, 20.0], "1d"))
    # (source,bucket) bin counts then a source repartition for the lag
    # window — two Exchanges, zero joins, bins live in columns
    assert count_exchanges(plan) == 2, plan
    assert "Join" not in plan, plan


def test_js_drift_two_exchanges_no_join(spark):
    import datetime as dt

    from adtk_spark.plans.tiers import js_drift

    df = series_df(spark, list(range(50)))
    plan = plan_of(js_drift(df, dt.datetime(2025, 1, 1, 12), [10.0, 20.0]))
    # identical shape to psi_drift: (source,bin) counts then a source
    # repartition shared by the totals window and the final reduce
    assert count_exchanges(plan) == 2, plan
    assert "Join" not in plan, plan


def test_ks_drift_two_exchanges_no_join(spark):
    import datetime as dt

    from adtk_spark.plans.tiers import ks_drift

    df = series_df(spark, list(range(50)))
    plan = plan_of(ks_drift(df, dt.datetime(2025, 1, 1, 12)))
    # (source,value) counts then a source repartition shared by the
    # totals window, the cumulative window AND the final max — two
    # Exchanges, zero joins (mirror of psi_drift)
    assert count_exchanges(plan) == 2, plan
    assert "Join" not in plan, plan


def test_ks_timeline_plan_shape(spark):
    from adtk_spark.plans.tiers import ks_timeline

    df = series_df(spark, list(range(50)))
    plan = plan_of(ks_timeline(df, "1d"))
    # value counts, the bucket-lead map, the role re-aggregation and
    # the (source, pair) scoring partitioning; the lead map broadcasts
    assert count_exchanges(plan) == 4, plan
    assert len(re.findall(r"BroadcastExchange", plan)) == 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_psi_reference_one_exchange_no_window(spark):
    from adtk_spark.plans.tiers import psi_reference

    df = series_df(spark, list(range(50)))
    plan = plan_of(psi_reference(df, [10.0, 20.0]))
    # bins unrolled as columns: one map-side combined groupBy(source)
    assert count_exchanges(plan) == 1, plan
    assert "Window" not in plan, plan


def test_quality_gate_broadcast_thresholds(spark):
    from adtk_spark.operators.corpus import quality_quantile_gate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(quality_quantile_gate(
        docs, 0.25, score_col="n_chars", strata_col="lang"))
    # the #strata-row threshold table must broadcast back — an SMJ here
    # would re-shuffle the whole corpus on the stratum key
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_event_cooccurrence_equi_join_only(spark):
    import datetime as dt

    from adtk_spark.operators.events import event_cooccurrence

    base = dt.datetime(2025, 1, 1)
    rows = [("s%d" % i, base + dt.timedelta(seconds=i * 30),
             base + dt.timedelta(seconds=i * 30 + 600)) for i in range(40)]
    df = spark.createDataFrame(
        rows, "source string, start_ts timestamp, end_ts timestamp")
    plan = plan_of(event_cooccurrence(df))
    # bucketized overlap: candidates pair via an EQUI-join on the
    # bucket — a raw BETWEEN self-join plans as nested-loop/cartesian
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ngram_contamination_broadcast_bench(spark):
    from adtk_spark.operators.corpus import ngram_contamination

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    plan = plan_of(ngram_contamination(corpus, bench, n=5))
    # the bench gram set must build-side broadcast — an SMJ here would
    # shuffle the full corpus gram explosion on the gram key
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_scan_is_column_pruned(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from adtk_spark.operators.corpus import token_count

    plan = plan_of(token_count(docs))
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "text" in m.group(1) and "lang" not in m.group(1), plan


def test_rollup_sliding_single_exchange_single_window(spark):
    from adtk_spark.plans.tiers import rollup_raw, rollup_sliding

    df = series_df(spark, list(range(200)), freq_hours=0.01)
    sl = rollup_sliding(rollup_raw(df, "1m"), 300, 60, quantile=0.5)
    plan = plan_of(sl)
    # the tier groupBy shuffles on (source, bucket); the sliding frame
    # re-shuffles on source — and ALL five frame functions (sum/min/max/
    # sum/collect_list) must share ONE Window node over that single sort
    assert count_exchanges(plan) == 2, plan
    assert len(re.findall(r"\bWindow\b", plan)) == 1, plan


def test_incremental_refresh_with_sketch(spark, tmp_path):
    """sketch=True through the incremental refresher: restated buckets
    rebuild digests, the latest-wins 1d read matches a from-scratch
    exact chain on algebraic columns, and vq estimates the raw-bucket
    quantile within digest rank error."""
    import numpy as np

    from adtk_spark.plans.incremental import (
        WATERMARK_KEY,
        read_tier_latest,
        refresh_tiers,
    )
    from adtk_spark.plans.tiers import rollup_raw, rollup_up
    from adtk_spark.sources.catalog import TierCatalog
    from adtk_spark.sources.tokens import token_corpus, token_series

    cat = TierCatalog(str(tmp_path / "cat"))
    c1 = token_corpus(spark, 1500, n_sources=4, seed=81, span_secs=2 * 86400)
    c2 = token_corpus(spark, 900, n_sources=4, seed=82, span_secs=2 * 86400)
    cat.commit(c1, "raw")
    assert refresh_tiers(cat, spark, sketch=True)["processed"] == 1
    cat.commit(c2, "raw")
    assert refresh_tiers(cat, spark, sketch=True)["processed"] == 1
    assert refresh_tiers(cat, spark, sketch=True)["processed"] == 0

    got = {(r["source"], r["bucket_ts"]): r
           for r in read_tier_latest(cat, spark, "tier_1d").collect()}
    full = token_series(cat.read(spark, "raw").drop("snap"))
    exact = rollup_up(rollup_up(rollup_raw(full, "1m"), "1h"), "1d")
    want = {(r["source"], r["bucket_ts"]): r for r in exact.collect()}
    assert set(got) == set(want)
    raw_pdf = full.toPandas()
    raw_pdf["day"] = raw_pdf["ts"].dt.floor("D")
    for k, g in got.items():
        x = want[k]
        assert g["cnt"] == x["cnt"] and g["vmin"] == x["vmin"]
        assert g["vsum"] == pytest.approx(x["vsum"], rel=1e-12)
        assert len(g["vdigest"]["means"]) <= 200
        sv = np.sort(raw_pdf[(raw_pdf["source"] == k[0])
                             & (raw_pdf["day"] == k[1])]["value"].to_numpy())
        rank = np.searchsorted(sv, g["vq"]) / len(sv)
        assert abs(rank - 0.5) < 0.05, k


def test_streaming_score_plan_is_stateful_not_join(spark):
    """The stateful scorer plans FlatMapGroupsInPandasWithState over ONE
    exchange on source — no per-batch join of history."""
    from adtk_spark.operators.detectors import persist_ad_fit
    from adtk_spark.streaming.stateful import streaming_persist_ad

    raw = series_df(spark, list(range(30)))
    bounds = persist_ad_fit(raw, window=3, min_periods=2)
    stream = spark.readStream.format("rate").load().selectExpr(
        "cast(value as string) as source", "timestamp as ts",
        "cast(value as double) as value")
    labeled = streaming_persist_ad(stream, bounds, window=3, min_periods=2)
    plan = labeled._jdf.queryExecution().analyzed().toString()
    assert "flatMapGroupsWithState" in plan or "FlatMapGroupsInPandasWithState" in plan, plan


def test_multivariate_predict_is_broadcast(spark):
    """PCA/regression predict: the tiny model table must broadcast —
    the big frame never shuffles at predict time."""
    from adtk_spark.operators.hd import (
        pca_fit,
        pca_reconstruction_error,
        regression_residual,
        regression_residual_fit,
    )

    rows = [("all", float(i), float(i), float(2 * i)) for i in range(30)]
    df = spark.createDataFrame(rows, "source string, ts double, A double, B double")
    reg = regression_residual_fit(df, target="A", features=["B"])
    plan = plan_of(regression_residual(df, reg, target="A", features=["B"]))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan

    pca = pca_fit(df, ["A", "B"], k=1)
    plan = plan_of(pca_reconstruction_error(df, pca, ["A", "B"]))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan


def test_rollup_ohlc(spark):
    import datetime as dt

    from adtk_spark.plans.tiers import rollup_ohlc

    t0 = dt.datetime(2025, 1, 1)
    rows = [("a", t0 + dt.timedelta(minutes=m), v)
            for m, v in [(0, 5.0), (10, 9.0), (20, 1.0), (50, 7.0),
                         (61, 3.0), (70, None), (75, 8.0)]]
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    got = {r["bucket_ts"].hour: (r["open"], r["high"], r["low"], r["close"], r["cnt"])
           for r in rollup_ohlc(df, "1h").collect()}
    assert got[0] == (5.0, 9.0, 1.0, 7.0, 4)  # open=first by ts, close=last
    assert got[1] == (3.0, 8.0, 3.0, 8.0, 2)  # NULL value excluded


def test_counter_rate_resets(spark):
    import datetime as dt

    from adtk_spark.plans.gapfill import counter_rate

    t0 = dt.datetime(2025, 1, 1)
    # counter climbs 0->50->90, restarts at 10 (reset), climbs to 30
    vals = [0.0, 50.0, 90.0, 10.0, 30.0]
    rows = [("a", t0 + dt.timedelta(seconds=10 * i), v)
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    out = counter_rate(df, "1m").collect()
    assert len(out) == 1
    # increases: 50, 40, 10 (reset -> the post-reset level), 20 = 120
    assert out[0]["increase"] == 120.0
    assert out[0]["rate"] == 2.0  # 120 / 60s


def test_sax_downsample_golden(spark):
    """SAX golden (Lin et al. 2003): mean series [0,0,0,0,10,10,10,10]
    has mu=5, population sigma=5; 4-minute PAA segments give z=-1 ('a'
    under the alphabet-4 breakpoints) and z=+1 ('d'). A constant source
    has sigma=0 -> z pinned to 0.0 -> 'c' (first region at or above 0).
    Also checks segment alignment and partition invariance."""
    import datetime as dt

    from adtk_spark.plans.tiers import sax_downsample

    t0 = dt.datetime(2025, 1, 1)
    rows = [("s", t0 + dt.timedelta(minutes=i), 0.0 if i < 4 else 10.0)
            for i in range(8)]
    rows += [("flat", t0 + dt.timedelta(minutes=i), 7.0) for i in range(8)]
    df = spark.createDataFrame(
        rows, "source string, bucket_ts timestamp, mean double")
    got = {(r["source"], r["seg_ts"].minute): (r["n_buckets"], r["paa"],
                                               r["z"], r["symbol"])
           for r in sax_downsample(df, segment_secs=240).collect()}
    assert got[("s", 0)] == (4, 0.0, -1.0, "a")
    assert got[("s", 4)] == (4, 10.0, 1.0, "d")
    assert got[("flat", 0)] == (4, 7.0, 0.0, "c")
    assert got[("flat", 4)] == (4, 7.0, 0.0, "c")

    # partition invariance: DECIMAL sums make paa/z bit-identical
    got13 = {(r["source"], r["seg_ts"].minute): (r["paa"], r["z"], r["symbol"])
             for r in sax_downsample(df.repartition(13),
                                     segment_secs=240).collect()}
    assert got13 == {k: v[1:] for k, v in got.items()}

    # alphabet bounds validated
    import pytest
    with pytest.raises(ValueError):
        sax_downsample(df, alphabet=26)

    # words: two 4-min segments concatenate in segment order into one
    # 8-min word, stable under repartitioning
    from adtk_spark.plans.tiers import sax_words

    for d in (df, df.repartition(13)):
        words = {r["source"]: (r["word"], r["n_segments"])
                 for r in sax_words(sax_downsample(d, segment_secs=240),
                                    word_secs=480).collect()}
        assert words["s"] == ("ad", 2)
        assert words["flat"] == ("cc", 2)


def test_psi_drift_golden(spark):
    """PSI golden: a total bin swap between windows gives the textbook
    2*(1-eps)*ln(1/eps) score; an identical distribution gives 0; a
    source absent from the reference window floors p at eps."""
    import datetime as dt
    import math

    from adtk_spark.plans.tiers import psi_drift

    t_ref = dt.datetime(2025, 1, 1)
    t_cur = dt.datetime(2025, 2, 1)
    split = dt.datetime(2025, 1, 15)
    rows = (
        [("swap", t_ref, 5.0)] * 4 + [("swap", t_cur, 15.0)] * 4
        + [("same", t_ref, 5.0)] * 2 + [("same", t_cur, 5.0)] * 2
        + [("newsrc", t_cur, 15.0)] * 3
    )
    df = spark.createDataFrame(
        rows, "source string, ts timestamp, value double")
    got = {r["source"]: (r["n_ref"], r["n_cur"], r["psi"])
           for r in psi_drift(df, split, [10.0]).collect()}

    eps = 1e-6
    term = round((1.0 - eps) * math.log(1.0 / eps), 9)
    want_swap = round(2 * term, 6)
    assert got["swap"] == (4, 4, want_swap)
    assert got["same"] == (2, 2, 0.0)
    # n_ref = 0: p floors at eps in the one observed bin, q = 1
    want_new = round(round((eps - 1.0) * math.log(eps / 1.0), 9), 6)
    assert got["newsrc"] == (0, 3, want_new)


def test_js_drift_golden(spark):
    """JSD golden: a total bin swap between windows saturates at ln 2;
    an identical distribution gives 0; a source empty on one side emits
    NULL (no eps fiction — 'distance to no data' is undefined)."""
    import datetime as dt
    import math

    from adtk_spark.plans.tiers import js_drift

    t_ref = dt.datetime(2025, 1, 1)
    t_cur = dt.datetime(2025, 2, 1)
    split = dt.datetime(2025, 1, 15)
    rows = (
        [("swap", t_ref, 5.0)] * 4 + [("swap", t_cur, 15.0)] * 4
        + [("same", t_ref, 5.0)] * 2 + [("same", t_cur, 5.0)] * 2
        + [("newsrc", t_cur, 15.0)] * 3
    )
    df = spark.createDataFrame(
        rows, "source string, ts timestamp, value double")
    got = {r["source"]: (r["n_ref"], r["n_cur"], r["jsd"])
           for r in js_drift(df, split, [10.0]).collect()}

    # per disjoint bin: p=1,q=0 (or mirror) -> 0.5*1*ln(1/0.5) = ln2/2
    term = round(0.5 * math.log(2.0), 9)
    assert got["swap"] == (4, 4, round(2 * term, 6))
    assert got["same"] == (2, 2, 0.0)
    assert got["newsrc"] == (0, 3, None)


def test_rollup_twa_golden(spark):
    """TWA golden: v=0 held for 59 min then v=100 for 1 min gives hour
    twa 100*60/3600 = 1.666667 where the plain mean of the two points
    would say 50 — the sampling-rate unbias TWA exists for. The
    segment crossing into hour 1 weights it fully; the last observation
    opens no segment; repartition-stable."""
    import datetime as dt

    from adtk_spark.plans.tiers import rollup_twa

    base = dt.datetime(2025, 1, 1)

    def t(s):
        return base + dt.timedelta(seconds=s)

    rows = [("s", t(0), 0.0), ("s", t(3540), 100.0), ("s", t(7200), 7.0)]
    df = spark.createDataFrame(
        rows, "source string, ts timestamp, value double")
    got = {r["bucket_ts"]: (r["covered_secs"], r["twa"])
           for r in rollup_twa(df, "1h").collect()}
    assert got == {
        t(0): (3600.0, 1.666667),     # 0*3540s + 100*60s over 3600s
        t(3600): (3600.0, 100.0),     # the 100-segment spans all of h1
    }
    got13 = {r["bucket_ts"]: (r["covered_secs"], r["twa"])
             for r in rollup_twa(df.repartition(13), "1h").collect()}
    assert got13 == got


def test_psi_timeline_golden(spark):
    """Timeline golden: day 2 scored vs day 1 gives the same value the
    split-based psi_drift gives for that pair; day 1 emits NULL psi;
    a skipped day scores against the previous OBSERVED day and reports
    it in prev_bucket_ts; stable under repartitioning."""
    import datetime as dt

    from adtk_spark.plans.tiers import psi_drift, psi_timeline

    d1, d2, d4 = (dt.datetime(2025, 1, i) for i in (1, 2, 4))
    rows = ([("s", d1, 5.0)] * 4 + [("s", d2, 15.0)] * 4
            + [("s", d4, 5.0)] * 2 + [("s", d4, 15.0)] * 2)
    df = spark.createDataFrame(
        rows, "source string, ts timestamp, value double")
    tl = {r["bucket_ts"]: r for r in psi_timeline(df, [10.0]).collect()}
    assert tl[d1]["psi"] is None and tl[d1]["prev_bucket_ts"] is None
    split_want = psi_drift(
        df.where(F.col("ts") < dt.datetime(2025, 1, 3)),
        d2, [10.0]).collect()[0]["psi"]
    assert tl[d2]["psi"] == split_want
    assert tl[d4]["prev_bucket_ts"] == d2  # gap skipped, reported
    assert tl[d4]["n_prev"] == 4 and tl[d4]["n_cur"] == 4
    got13 = {r["bucket_ts"]: r["psi"]
             for r in psi_timeline(df.repartition(13), [10.0]).collect()}
    assert got13 == {k: v["psi"] for k, v in tl.items()}


def test_ks_drift_golden(spark):
    """KS golden: a unit-shifted sample gives the hand-computed max
    ECDF gap; identical samples give 0; cross-sample ties land on the
    grouped-distinct evaluation points; a source empty on either side
    emits NULL."""
    import datetime as dt

    from adtk_spark.plans.tiers import ks_drift

    t_ref = dt.datetime(2025, 1, 1)
    t_cur = dt.datetime(2025, 2, 1)
    split = dt.datetime(2025, 1, 15)
    rows = (
        [("shift", t_ref, v) for v in (1.0, 2.0, 3.0, 4.0)]
        + [("shift", t_cur, v) for v in (3.0, 4.0, 5.0, 6.0)]
        + [("same", t_ref, v) for v in (1.0, 2.0)]
        + [("same", t_cur, v) for v in (1.0, 2.0)]
        + [("ties", t_ref, v) for v in (1.0, 1.0, 2.0)]
        + [("ties", t_cur, v) for v in (1.0, 2.0, 2.0)]
        + [("newsrc", t_cur, 9.0)] * 3
    )
    df = spark.createDataFrame(
        rows, "source string, ts timestamp, value double")
    got = {r["source"]: (r["n_ref"], r["n_cur"], r["ks"])
           for r in ks_drift(df, split).collect()}
    # shift: ECDF gaps at v=2 and v=3,4 are all 0.5
    assert got["shift"] == (4, 4, 0.5)
    assert got["same"] == (2, 2, 0.0)
    # ties: at v=1 gap = |2/3 - 1/3| = 1/3 (evaluated after grouping)
    assert got["ties"] == (3, 3, 0.333333)
    assert got["newsrc"] == (0, 3, None)
    # parallelism-stability: same result under a different partitioning
    got13 = {r["source"]: (r["n_ref"], r["n_cur"], r["ks"])
             for r in ks_drift(df.repartition(13), split).collect()}
    assert got13 == got


def test_dst_day_buckets(spark):
    """r03 ADVICE: with a non-UTC session timezone, date_trunc('day')
    buckets around a DST transition are 23/25 h wide. The retention
    previous-bucket shift must use a calendar interval (fixed 86400 s
    missed the join and silently read 0), and counter_rate's '1d' rate
    divisor must be the bucket's actual width (82800 s on the US
    spring-forward day), not a fixed 86400."""
    import datetime as dt

    from adtk_spark.plans.gapfill import counter_rate
    from adtk_spark.plans.tiers import rollup_retention

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        # US spring-forward: 2025-03-09 (23 h), flanked by normal days
        days = [dt.datetime(2025, 3, d, 12, 0) for d in (8, 9, 10)]
        rows = [("s", t, "u1") for t in days] + [("s", days[1], "u2")]
        df = spark.createDataFrame(
            rows, "source string, ts timestamp, user_id string")
        got = {r["bucket_ts"].day: (r["n_retained"], r["n_distinct"])
               for r in rollup_retention(df, "1d").collect()}
        # u1 present every day: retained=1 on the 9th AND the 10th —
        # the 10th's previous bucket is the 23 h DST day
        assert got[9] == (1, 2) and got[10] == (1, 1)

        # counter over the DST day: increase 115 over an 82800 s bucket
        c0 = dt.datetime(2025, 3, 9, 0, 30)
        crows = [("c", c0, 0.0), ("c", c0 + dt.timedelta(hours=22), 115.0)]
        cdf = spark.createDataFrame(
            crows, "source string, ts timestamp, value double")
        out = {r["bucket_ts"].day: r["rate"]
               for r in counter_rate(cdf, "1d").collect()}
        assert abs(out[9] - 115.0 / 82800.0) < 1e-12
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_rollup_twa_property_vs_python_locf(spark):
    """Randomized parity vs a direct python LOCF reference: for random
    irregular (ts, value) series, every hour bucket's covered seconds
    and TWA match the per-segment clip-and-weigh computed row by row
    in python (same 1e-6 term quantization and final rounding)."""
    import datetime as dt
    import random
    from decimal import Decimal

    rng = random.Random(20250818)
    base = dt.datetime(2025, 1, 1)
    for trial in range(5):
        n = rng.randint(2, 40)
        secs = sorted(rng.sample(range(0, 6 * 3600), n))
        vals = [round(rng.uniform(-50, 150), 3) for _ in range(n)]
        rows = [("s", base + dt.timedelta(seconds=s), v)
                for s, v in zip(secs, vals)]

        # python reference: split each [t_i, t_{i+1}) across hour
        # buckets, quantize value*overlap-seconds to 1e-6, sum exactly
        from collections import defaultdict
        w_us = defaultdict(int)
        vw = defaultdict(Decimal)
        for (s0, v), s1 in zip(zip(secs, vals), secs[1:]):
            b = (s0 // 3600) * 3600
            while b <= ((s1 // 3600) * 3600):
                ov = min(s1, b + 3600) * 1_000_000 - max(s0, b) * 1_000_000
                if ov > 0:
                    w_us[b] += ov
                    vw[b] += Decimal(repr(round(v * (ov / 1e6), 6)))
                b += 3600
        want = {
            base + dt.timedelta(seconds=b): (
                round(w_us[b] / 1e6, 6),
                round(float(vw[b]) / (w_us[b] / 1e6), 6),
            )
            for b in w_us
        }

        from adtk_spark.plans.tiers import rollup_twa

        df = spark.createDataFrame(
            rows, "source string, ts timestamp, value double")
        got = {r["bucket_ts"]: (r["covered_secs"], r["twa"])
               for r in rollup_twa(df, "1h").collect()}
        assert got == want, (trial, secs, vals)


def test_drift_ops_null_robustness(spark):
    """All-NULL and NULL-mixed inputs: ks_drift drops NULL values from
    the count base (an all-NULL source vanishes); psi_timeline likewise;
    winsorize passes NULL scores through and leaves a no-threshold
    stratum unclipped; stratified ops drop NULL strata explicitly."""
    import datetime as dt

    from adtk_spark.operators.corpus import stratified_take, winsorize
    from adtk_spark.plans.tiers import ks_drift, psi_timeline

    t0, t1 = dt.datetime(2025, 1, 1), dt.datetime(2025, 1, 2)
    rows = [("a", t0, 1.0), ("a", t1, 2.0),
            ("a", t0, None), ("a", t1, None),
            ("allnull", t0, None), ("allnull", t1, None)]
    df = spark.createDataFrame(
        rows, "source string, ts timestamp, value double")

    ks = {r["source"]: r for r in ks_drift(df, t1).collect()}
    assert set(ks) == {"a"}          # the all-NULL source vanishes
    assert ks["a"]["n_ref"] == 1 and ks["a"]["n_cur"] == 1

    tl = {(r["source"], r["bucket_ts"]): r["n_cur"]
          for r in psi_timeline(df, [1.5]).collect()}
    assert set(tl) == {("a", t0), ("a", t1)}
    assert all(v == 1 for v in tl.values())

    w = winsorize(df, 0.25, 0.75, strata_col="source", score_col="value",
                  out_col="w")
    got = {(r["source"], r["ts"], r["value"]): r["w"] for r in w.collect()}
    assert got[("a", t0, None)] is None          # NULL passes as NULL
    assert got[("allnull", t0, None)] is None    # no thresholds fit
    assert len(got) == 6                          # row count preserved

    docs = spark.createDataFrame(
        [("d1", "en"), ("d2", "en"), ("d3", None)],
        "doc_id string, lang string")
    taken = stratified_take(docs, 5)
    assert {r["doc_id"] for r in taken.collect()} == {"d1", "d2"}


def test_seasonality_strength_golden(spark):
    """A perfectly periodic source scores exactly 1.0, a constant
    source has no variance to explain (NULL), and a mostly-seasonal
    source lands just below 1 — hand-checked 1 - (4/3)/(1362/9);
    repartition-stable."""
    import datetime as dt

    from adtk_spark.plans.tiers import seasonality_strength

    base = dt.datetime(2025, 1, 1)

    def t(s):
        return base + dt.timedelta(seconds=s)

    rows = [("per", t(s), float(10 * ((s // 30) % 2))) for s in range(0, 300, 30)]
    rows += [("const", t(s), 5.0) for s in range(0, 300, 30)]
    rows += [("mix", t(s), v) for s, v in
             ((0, 0.0), (30, 10.0), (60, 0.0), (90, 10.0),
              (120, 1.0), (150, 11.0))]
    df = spark.createDataFrame(
        rows, "source string, ts timestamp, value double")
    got = {r["source"]: (r["n"], r["strength"])
           for r in seasonality_strength(df, 60).collect()}
    assert got["per"] == (10, 1.0)
    assert got["const"] == (10, None)
    want_mix = round(1 - (4 / 3) / (1362 / 9), 6)
    assert got["mix"] == (6, want_mix)
    got13 = {r["source"]: r["strength"] for r in seasonality_strength(
        df.repartition(13), 60).collect()}
    assert got13 == {k: v[1] for k, v in got.items()}


def test_seasonality_scan_matches_single_period_one_plan(spark):
    """The grid scan's values equal the single-period op for each
    period, and the WHOLE grid costs exactly two Exchanges (p separate
    strength calls would cost 2p)."""
    import datetime as dt

    from adtk_spark.plans.tiers import seasonality_scan, seasonality_strength

    base = dt.datetime(2025, 1, 1)
    rows = [("s", base + dt.timedelta(seconds=s),
             float(10 * ((s // 30) % 2)) + (s % 7) * 0.1)
            for s in range(0, 600, 30)]
    df = spark.createDataFrame(
        rows, "source string, ts timestamp, value double")
    scan = {(r["source"], r["period_secs"]): (r["n"], r["strength"])
            for r in seasonality_scan(df, [60, 120, 300]).collect()}
    for p in (60, 120, 300):
        single = seasonality_strength(df, p).collect()[0]
        assert scan[("s", p)] == (single["n"], single["strength"]), p
    plan = plan_of(seasonality_scan(df, [60, 120, 300]))
    assert count_exchanges(plan) == 2, plan
    assert "Join" not in plan, plan


def test_rollup_twa_up_merges_exactly(spark):
    """The upward TWA merge: weight micros sum exactly, merged TWA
    equals a direct coarse rollup within the hour-vs-day quantization
    bound (5e-7 per piece / covered), and on hour-aligned data the two
    are IDENTICAL (same pieces, same quantization). A merged tier
    carries its sums, so the 3-level chain 1m -> 1h -> 1d holds the
    same contract."""
    import datetime as dt
    import random

    from adtk_spark.plans.tiers import rollup_twa, rollup_up

    base = dt.datetime(2025, 1, 1)
    rng = random.Random(7)
    rows = [("s", base + dt.timedelta(seconds=s),
             round(rng.uniform(-20, 120), 3))
            for s in sorted(rng.sample(range(0, 3 * 86400), 500))]
    df = spark.createDataFrame(
        rows, "source string, ts timestamp, value double")
    chains = {
        "1h->1d": lambda d: rollup_up(rollup_twa(d, "1h"), "1d"),
        "1m->1h->1d": lambda d: rollup_up(rollup_up(rollup_twa(d, "1m"), "1h"), "1d"),
    }
    direct = {r["bucket_ts"]: (r["covered_secs"], r["twa"])
              for r in rollup_twa(df, "1d").collect()}
    for name, chain in chains.items():
        merged = {r["bucket_ts"]: (r["covered_secs"], r["twa"])
                  for r in chain(df).collect()}
        assert set(merged) == set(direct), name
        for b in direct:
            assert merged[b][0] == direct[b][0], (name, b)   # weights exact
            assert abs(merged[b][1] - direct[b][1]) < 1e-3, (name, b)

    # hour-aligned observations: identical piece set -> identical twa
    rows2 = [("a", base + dt.timedelta(hours=h), float(h % 5))
             for h in range(49)]
    df2 = spark.createDataFrame(
        rows2, "source string, ts timestamp, value double")
    d2 = {r["bucket_ts"]: (r["covered_secs"], r["twa"])
          for r in rollup_twa(df2, "1d").collect()}
    for name, chain in chains.items():
        m2 = {r["bucket_ts"]: (r["covered_secs"], r["twa"])
              for r in chain(df2).collect()}
        assert m2 == d2, name


def test_rollup_twa_two_exchanges(spark):
    from adtk_spark.plans.tiers import rollup_twa

    df = series_df(spark, list(range(50)))
    plan = plan_of(rollup_twa(df, "1h"))
    # the bucket groupBy's (source, bucket) clustering is satisfied by
    # the lead window's source partitioning — ONE Exchange total
    assert count_exchanges(plan) == 1, plan
    assert "Join" not in plan, plan


def test_duplicate_spans_equi_join_narrow_key(spark):
    from adtk_spark.operators.corpus import duplicate_spans

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(duplicate_spans(docs, k=5))
    # gram matching must be an equi-join on the 8-byte hash — never a
    # nested-loop — and the df counts must combine map-side
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "partial_count" in plan, plan


def test_ks_timeline_detects_shift_day(spark):
    """Three days: day1~day2 identical uniform ramps (ks ~ 0), day3
    shifted by +100 (ks = 1.0 — disjoint supports); first day NULL;
    an observed-bucket gap pairs across the hole; partitioning-
    invariant."""
    import datetime as dt

    from adtk_spark.plans.tiers import ks_timeline

    t0 = dt.datetime(2025, 1, 1)
    rows = []
    for d, (day, off) in enumerate([(0, 0.0), (1, 0.0), (3, 100.0)]):
        base = t0 + dt.timedelta(days=day)
        rows += [("a", base + dt.timedelta(minutes=i), float(i % 50) + off)
                 for i in range(200)]
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    out = {r["bucket_ts"]: r for r in ks_timeline(df, "1d").collect()}
    d0, d1, d3 = (t0, t0 + dt.timedelta(days=1), t0 + dt.timedelta(days=3))
    assert out[d0]["ks"] is None and out[d0]["prev_bucket_ts"] is None
    assert out[d1]["ks"] == 0.0                     # identical distribution
    assert out[d3]["ks"] == 1.0                     # disjoint supports
    assert out[d3]["prev_bucket_ts"] == d1          # pairs across the gap
    assert out[d3]["n_prev"] == 200 and out[d3]["n_cur"] == 200
    out2 = {r["bucket_ts"]: tuple(r)
            for r in ks_timeline(df.repartition(9), "1d").collect()}
    assert out2 == {k: tuple(v) for k, v in out.items()}


@pytest.mark.parametrize("op", ["psi_drift", "js_drift", "ks_drift",
                                "psi_timeline", "ks_timeline",
                                "psi_reference", "rollup_hist"])
def test_drift_family_partition_invariant(spark, op):
    """Every drift monitor emits identical rows whatever the input
    partitioning (1 vs 13) and the shuffle width (1 vs 7, with AQE
    coalescing off so the width is really used)."""
    import datetime as dt
    import random

    from adtk_spark.plans import tiers

    split = dt.datetime(2025, 1, 3)
    edges = [5.0, 10.0, 20.0]
    run = {
        "psi_drift": lambda d: tiers.psi_drift(d, split, edges),
        "js_drift": lambda d: tiers.js_drift(d, split, edges),
        "ks_drift": lambda d: tiers.ks_drift(d, split),
        "psi_timeline": lambda d: tiers.psi_timeline(d, edges, "1d"),
        "ks_timeline": lambda d: tiers.ks_timeline(d, "1d"),
        "psi_reference": lambda d: tiers.psi_reference(d, edges),
        "rollup_hist": lambda d: tiers.rollup_hist(d, edges, "1h"),
    }[op]
    rng = random.Random(20251017)
    t0 = dt.datetime(2025, 1, 1)
    rows = [(s, t0 + dt.timedelta(minutes=37 * i),
             None if rng.random() < 0.05 else round(rng.expovariate(0.1), 1))
            for s in ("a", "b", "c") for i in range(300)]
    df = spark.createDataFrame(
        rows, "source string, ts timestamp, value double")
    assert_layout_invariant(spark, df, run)


def test_distribution_compare_rejects_unknown_stat(spark):
    from adtk_spark.plans.tiers import distribution_compare

    counts = spark.createDataFrame(
        [("a", 0, 1, 1)], "source string, k int, cref long, ccur long")
    with pytest.raises(ValueError, match="stat"):
        distribution_compare(counts, "kl", ["source"])


def test_weekday_profile_golden(spark):
    """Two weeks of data where Monday 9:00 always reads 100 and every
    other slot 1: the (dow=2, hour=9) cell means 100 with n=2 (Spark
    dayofweek: Sunday=1); 168 bounded slots; partitioning-invariant."""
    import datetime as dt

    from adtk_spark.plans.tiers import weekday_profile

    t0 = dt.datetime(2025, 1, 6)  # a Monday
    rows = []
    for i in range(14 * 24):
        ts = t0 + dt.timedelta(hours=i)
        val = 100.0 if (ts.weekday() == 0 and ts.hour == 9) else 1.0
        rows.append(("a", ts, val))
    df = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    out = {(r["dow"], r["hour"]): r for r in weekday_profile(df).collect()}
    assert len(out) == 168
    assert out[(2, 9)]["mean_value"] == 100.0 and out[(2, 9)]["n"] == 2
    assert out[(3, 9)]["mean_value"] == 1.0
    out2 = {(r["dow"], r["hour"]): tuple(r)
            for r in weekday_profile(df.repartition(7)).collect()}
    assert out2 == {k: tuple(v) for k, v in out.items()}


#: the compound trio and the window each test builds it with
_COMPOUND = {"persist_ad": 3, "level_shift_ad": 5, "volatility_shift_ad": 5}


def _compound_out(spark, tmp_path, op):
    from adtk_spark.operators import detectors as D

    path = str(tmp_path / "series")
    series_df(spark, [float(i % 7) for i in range(40)]).write.parquet(path)
    out = getattr(D, op)(spark.read.parquet(path), window=_COMPOUND[op])
    plan = plan_of(out)
    assert plan.count("FileScan") == 1, plan
    assert "BroadcastExchange" not in plan, plan
    assert "Join" not in plan, plan
    assert_ts_ascending_per_source(out)
    return plan


@pytest.mark.parametrize("op", sorted(_COMPOUND))
def test_compound_fit_detect_one_scan_one_exchange(spark, tmp_path, op):
    """The compound trio's fit_detect fits its IQR bounds as window
    columns on the feature frame's own partitioning: one scan, one
    shuffle, no broadcast and no join; rows leave re-sorted by ts.
    Pinned to the shuffled plan (``spark.sql.autoBroadcastJoinThreshold``
    -1): this small input would otherwise run as one partition."""
    from tests.test_small_reads import threshold

    with threshold(spark, "-1"):
        plan = _compound_out(spark, tmp_path, op)
    assert count_exchanges(plan) == 1, plan


@pytest.mark.parametrize("op", sorted(_COMPOUND))
def test_compound_fit_detect_small_input_no_exchange(spark, tmp_path, op):
    """With the one-partition rule on (the default threshold), the same
    small parquet input plans no Exchange at all."""
    plan = _compound_out(spark, tmp_path, op)
    assert "Exchange" not in plan, plan


def assert_ts_ascending_per_source(df):
    # rows leave in (source, ts) order, as written files keep them
    seen = {}
    for r in df.collect():
        seen.setdefault(r["source"], []).append(r["ts"])
    assert seen and all(ts == sorted(ts) for ts in seen.values())


def test_shift_features_one_window_expression_each(spark):
    """The two-window feature frames evaluate each of their four window
    aggregates (left/right count and std or mean) once, though the
    magnitude or diff references a side more than once:
    volatility_shift_ad's abs_rel_diff, and double_rolling_agg's
    abs_rel_diff, rel_diff and l2."""
    from adtk_spark.functions.windows import double_rolling_agg
    from adtk_spark.operators.detectors import volatility_shift_ad_detect

    df = series_df(spark, [float(i % 7) for i in range(40)])
    bounds = spark.createDataFrame(
        [("A", float("-inf"), 1.0), ("B", float("-inf"), 1.0)],
        "source string, abs_low double, abs_high double")
    frames = [volatility_shift_ad_detect(df, bounds, window=3)] + [
        double_rolling_agg(df, 5, "mean", diff=diff)
        for diff in ("abs_rel_diff", "rel_diff", "l2")]
    for out in frames:
        plan = plan_of(out)
        assert plan.count("windowspecdefinition") == 4, plan


def test_persist_ad_compiles_on_non_nullable_values(spark):
    """PersistAD's single-row right window stays whole-stage-codegen
    compilable when ``value`` is non-nullable (as ``token_series``
    produces): with the interpreter fallback off, a failed compile
    raises instead of degrading silently."""
    from adtk_spark.operators.detectors import persist_ad

    nullable = series_df(spark, [float(i % 7) for i in range(40)])
    df = nullable.select("source", "ts",
                         F.coalesce("value", F.lit(0.0)).alias("value"))
    assert not df.schema["value"].nullable
    keys = {"spark.sql.codegen.factoryMode": "CODEGEN_ONLY",
            "spark.sql.codegen.fallback": "false"}
    prev = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        labels = [[r["label"] for r in persist_ad(d, window=3).collect()]
                  for d in (df, nullable)]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert labels[0] == labels[1] and len(labels[0]) == 80 and 0.0 in labels[0]


def test_interpolate_linear_no_unbounded_following(spark):
    """Both lerp anchors come from running frames (the next anchor over
    descending ts): no frame reaches UnboundedFollowing, whose cost
    grows quadratically per source, and the rows still leave in
    ascending ts order."""
    from adtk_spark.plans.gapfill import interpolate_linear, time_spine

    df = series_df(spark, [1.0, None, None, 4.0, None, 6.0])
    out = interpolate_linear(time_spine(df, "1 day"))
    plan = plan_of(out)
    assert "Window" in plan, plan
    assert "unboundedfollowing" not in plan.lower(), plan
    assert_ts_ascending_per_source(out)
