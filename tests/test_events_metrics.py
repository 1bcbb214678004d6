"""Event algebra + metrics parity vs reference goldens.

Transcribed from /root/reference/tests/test_aggregators.py and
tests/test_metric.py.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from adtk_spark.operators import aggregators as A
from adtk_spark.operators import events as E
from adtk_spark.operators import metrics as M
from tests.conftest import NAN, assert_series, series_df


def ts(s):
    return dt.datetime.fromisoformat(s)


def ev_df(spark, rows, source="A"):
    """rows: list of (start, end) iso strings or single iso string (point)."""
    data = []
    for r in rows:
        if isinstance(r, tuple):
            data.append((source, ts(r[0]), ts(r[1])))
        else:
            data.append((source, ts(r), ts(r)))
    schema = "source string, start_ts timestamp, end_ts timestamp"
    if not data:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(data, schema)


def ev_set(df):
    return {
        (r["start_ts"], r["end_ts"])
        for r in df.select("start_ts", "end_ts").collect()
    }


LIST_A = [("2017-01-01", "2017-01-02"), ("2017-01-05", "2017-01-08"), "2017-01-10"]
LIST_B = ["2017-01-02", ("2017-01-03", "2017-01-06"), "2017-01-08",
          ("2017-01-07", "2017-01-09"), ("2017-01-11", "2017-01-11")]


def test_events_or(spark):
    # test_aggregators.py:7-45
    out = E.events_or([ev_df(spark, LIST_A), ev_df(spark, LIST_B)])
    assert ev_set(out) == {
        (ts("2017-01-01"), ts("2017-01-02")),
        (ts("2017-01-03"), ts("2017-01-09")),
        (ts("2017-01-10"), ts("2017-01-10")),
        (ts("2017-01-11"), ts("2017-01-11")),
    }
    out2 = E.events_or([ev_df(spark, LIST_A), ev_df(spark, [])])
    assert ev_set(out2) == {
        (ts("2017-01-01"), ts("2017-01-02")),
        (ts("2017-01-05"), ts("2017-01-08")),
        (ts("2017-01-10"), ts("2017-01-10")),
    }


def test_events_and(spark):
    # test_aggregators.py:86-119
    out = E.events_and([ev_df(spark, LIST_A), ev_df(spark, LIST_B)])
    assert ev_set(out) == {
        (ts("2017-01-02"), ts("2017-01-02")),
        (ts("2017-01-05"), ts("2017-01-06")),
        (ts("2017-01-07"), ts("2017-01-08")),
    }
    out2 = E.events_and([ev_df(spark, LIST_A), ev_df(spark, [])])
    assert out2.count() == 0


TRUTH_IN = [(1, 1), (1, 0), (0, 1), (0, 0), (NAN, 1), (0, NAN)]


def truth_df(spark):
    rows = []
    t0 = dt.datetime(2017, 1, 1)
    for src in ("A", "B"):
        for i, (a, b) in enumerate(TRUTH_IN):
            rows.append((
                src, t0 + dt.timedelta(days=i),
                None if a != a else float(a),
                None if b != b else float(b),
            ))
    return spark.createDataFrame(rows, "source string, ts timestamp, la double, lb double")


def test_or_and_labels(spark):
    # test_aggregators.py:48-63, 122-137
    df = truth_df(spark)
    assert_series(A.or_labels(df, ["la", "lb"]), "label",
                  [1, 1, 1, 0, 1, NAN])
    assert_series(A.and_labels(df, ["la", "lb"]), "label",
                  [1, 0, 0, 0, NAN, 0])


# --- metrics goldens (test_metric.py) --------------------------------------

S_TRUE = [0, 0, 1, 1, 0, 1, 0, NAN, 1, 1, 0, 1, 0, 1, 1, 1, 1, 1, NAN, 0, 0, 1, 0, 0]
S_PRED = [0, 1, 1, 1, 1, 1, 1, 0, 1, 1, 0, 1, 0, 0, 1, NAN, 1, 1, NAN, 0, 1, 0, 1, 1]
S_ZERO = [0, 0, 0, 0, 0, 0, 0, NAN, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, NAN, 0, 0, 0, 0, 0]


def label_pair_df(spark, t, p):
    t0 = dt.datetime(1970, 1, 1)
    rows = [
        ("A", t0 + dt.timedelta(days=i),
         None if a != a else float(a), None if b != b else float(b))
        for i, (a, b) in enumerate(zip(t, p))
    ]
    return spark.createDataFrame(rows, "source string, ts timestamp, y_true double, y_pred double")


def one(df, col):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0][col]


def test_label_metrics(spark):
    df = label_pair_df(spark, S_TRUE, S_PRED)
    assert one(M.recall_labels(df), "recall") == 9 / 12
    assert one(M.precision_labels(df), "precision") == 9 / 15
    assert abs(one(M.f1_labels(df), "f1") - 2 / 3) < 1e-12
    assert one(M.iou_labels(df), "iou") == 9 / 17
    z = label_pair_df(spark, S_ZERO, S_PRED)
    assert one(M.recall_labels(z), "recall") is None
    inv = label_pair_df(spark, [1 - v if v == v else v for v in S_PRED], S_PRED)
    assert one(M.f1_labels(inv), "f1") is None
    zz = label_pair_df(spark, S_ZERO, S_ZERO)
    assert one(M.iou_labels(zz), "iou") is None


L_TRUE = [("1970-01-03", "1970-01-04"), "1970-01-06", ("1970-01-08", "1970-01-10"),
          "1970-01-12", ("1970-01-14", "1970-01-18"), "1970-01-22"]
L_PRED = [("1970-01-02", "1970-01-07"), ("1970-01-09", "1970-01-10"), "1970-01-12",
          "1970-01-15", ("1970-01-17", "1970-01-19"), "1970-01-21",
          ("1970-01-23", "1970-01-24")]


def test_event_metrics(spark):
    t, p = ev_df(spark, L_TRUE), ev_df(spark, L_PRED)
    assert one(M.recall_events(t, p), "recall") == 4 / 6
    assert one(M.precision_events(t, p), "precision") == 4 / 7
    assert one(M.recall_events(t, p, thresh=1), "recall") == 3 / 6
    assert one(M.precision_events(t, p, thresh=1), "precision") == 3 / 7
    assert one(M.iou_events(t, p), "iou") == 3 / 13


def test_to_events_roundtrip(spark):
    labels = series_df(spark, [0, 1, 1, 0, 1, NAN, 1, 1])
    labels = labels.withColumnRenamed("value", "label")
    ev = E.to_events(labels, freq="1d")
    got = ev.where("source = 'A'")
    s = ev_set(got)
    # merged runs with period semantics: [d2,d3], [d5], [d7,d8] as periods
    assert s == {
        (ts("2017-01-02"), ts("2017-01-04") - dt.timedelta(microseconds=1)),
        (ts("2017-01-05"), ts("2017-01-06") - dt.timedelta(microseconds=1)),
        (ts("2017-01-07"), ts("2017-01-09") - dt.timedelta(microseconds=1)),
    }
    # back to labels on the same spine
    spine = labels.select("source", "ts")
    back = E.to_labels(ev, spine, freq="1d")
    assert_series(back, "label", [0, 1, 1, 0, 1, 0, 1, 1])


def test_expand_events(spark):
    ev = ev_df(spark, [("2017-01-02", "2017-01-03"), "2017-01-06"])
    out = E.expand_events(ev, left_expand="1d", right_expand="1d")
    assert ev_set(out) == {
        (ts("2017-01-01"), ts("2017-01-04")),
        (ts("2017-01-05"), ts("2017-01-07")),
    }


def test_validate_events_merge(spark):
    ev = ev_df(spark, [("2017-01-05", "2017-01-08"), ("2017-01-01", "2017-01-03"),
                       ("2017-01-02", "2017-01-06"), "2017-01-10"])
    out = E.validate_events(ev)
    assert ev_set(out) == {
        (ts("2017-01-01"), ts("2017-01-08")),
        (ts("2017-01-10"), ts("2017-01-10")),
    }


def test_sessionize(spark):
    import datetime as dt

    from adtk_spark.operators.events import sessionize

    t0 = dt.datetime(2025, 1, 1)
    secs = [0, 10, 25, 100, 110, 400]  # gaps: 10,15 | 75 | 10 | 290
    rows = [("a", t0 + dt.timedelta(seconds=s)) for s in secs]
    rows += [("b", t0)]
    df = spark.createDataFrame(rows, "source string, ts timestamp")
    out = sessionize(df, gap_secs=60)
    got = sorted((r["source"], r["session_start"].second + 60 * r["session_start"].minute,
                  r["n_rows"]) for r in out.collect())
    # a: [0,10,25] | [100,110] | [400]; b: [0]
    assert got == [("a", 0, 3), ("a", 100, 2), ("a", 400, 1), ("b", 0, 1)]


# ---------------------------------------------------------------------------
# property-based roundtrip (hypothesis)
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=10, deadline=None)
@given(labels=st.lists(st.sampled_from([0.0, 1.0]), min_size=1, max_size=20))
def test_to_events_to_labels_roundtrip_property(spark, labels):
    """Random {0,1} label sequences on an hourly grid: labels ->
    to_events(freq) -> to_labels(freq) must be the identity, for any
    run-length pattern (single points, long runs, edges at both ends)."""
    import datetime as dt

    from adtk_spark.operators.events import to_events, to_labels

    t0 = dt.datetime(2025, 1, 1)
    rows = [("s", t0 + dt.timedelta(hours=i), v) for i, v in enumerate(labels)]
    df = spark.createDataFrame(rows, "source string, ts timestamp, label double")
    ev = to_events(df, freq="1 hour")
    spine = df.select("source", "ts")
    back = {r["ts"]: r["label"]
            for r in to_labels(ev, spine, freq="1 hour").collect()}
    for i, (_, ts, v) in enumerate(rows):
        assert back[ts] == v, (i, labels)


def test_event_cooccurrence_golden(spark):
    """Hand-checked pair overlaps: closed-interval touch counts with
    overlap 0; non-overlapping pairs are absent; a pair spanning many
    buckets is counted ONCE (ownership dedup), at any bucket width."""
    base = dt.datetime(2025, 1, 1)

    def iv(src, s, e):
        return (src, base + dt.timedelta(seconds=s),
                base + dt.timedelta(seconds=e))

    rows = [iv("A", 0, 100), iv("A", 200, 210), iv("B", 50, 150),
            iv("C", 205, 300), iv("D", 150, 160)]
    df = spark.createDataFrame(
        rows, "source string, start_ts timestamp, end_ts timestamp")
    got = {(r["source_a"], r["source_b"]): (r["n_pairs"], r["overlap_secs"])
           for r in E.event_cooccurrence(df).collect()}
    assert got == {
        ("A", "B"): (1, 50.0),
        ("A", "C"): (1, 5.0),
        ("B", "D"): (1, 0.0),   # touching closed intervals
    }
    # ownership: one pair across 61 shared minute buckets counts once
    wide = spark.createDataFrame(
        [iv("X", 0, 7200), iv("Y", 3600, 10800)],
        "source string, start_ts timestamp, end_ts timestamp")
    for bucket in ("minute", "hour"):
        out = E.event_cooccurrence(wide, bucket=bucket).collect()
        assert [(r["source_a"], r["source_b"], r["n_pairs"],
                 r["overlap_secs"]) for r in out] == [("X", "Y", 1, 3600.0)]


def test_funnel_golden(spark):
    """Funnel golden: in-order completion counts, out-of-order steps
    don't count, within_secs tightens step windows."""
    import datetime as dt

    from adtk_spark.operators.events import funnel

    b = dt.datetime(2025, 6, 1)
    m = lambda mins: b + dt.timedelta(minutes=mins)
    rows = [
        (1, "view", m(0)), (1, "signup", m(5)), (1, "purchase", m(10)),
        (2, "signup", m(0)), (2, "view", m(5)),      # signup BEFORE view
        (3, "view", m(0)),
        (4, "view", m(0)), (4, "purchase", m(2)), (4, "signup", m(4)),
        (5, "view", m(0)), (5, "signup", m(120)),    # slow converter
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp")
    got = {r["step"]: (r["event_type"], r["users"], r["conv_rate"])
           for r in funnel(df, ["view", "signup", "purchase"]).collect()}
    assert got[1] == ("view", 5, 1.0)
    assert got[2] == ("signup", 3, 0.6)     # users 1, 4, 5
    assert got[3] == ("purchase", 1, 0.2)   # user 1 only (4 bought early)

    # within 1 hour: user 5's 2h-later signup no longer converts
    got2 = {r["step"]: r["users"]
            for r in funnel(df, ["view", "signup", "purchase"],
                            within_secs=3600).collect()}
    assert got2[2] == 2 and got2[3] == 1


def test_funnel_plan_one_exchange_no_join(spark):
    import datetime as dt
    import re

    from adtk_spark.operators.events import funnel

    df = spark.createDataFrame(
        [(1, "view", dt.datetime(2025, 1, 1))],
        "user_id long, event_type string, ts timestamp")
    plan = funnel(df, ["view", "signup"])._jdf.queryExecution() \
        .executedPlan().toString()
    # user window + per-user groupBy share hash(user_id); the global
    # count is a single-partition reduce (no hashpartitioning)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_cohort_retention_golden(spark):
    """Cohort matrix golden: users land in their first-activity day,
    multiple same-day events count once, returns land at exact offsets."""
    import datetime as dt

    from adtk_spark.operators.events import cohort_retention

    b = dt.datetime(2025, 7, 1)
    d = lambda days, h=0: b + dt.timedelta(days=days, hours=h)
    rows = [
        (1, d(0)), (1, d(0, 5)), (1, d(2)),   # cohort day0, back day2
        (2, d(0)),                            # cohort day0, never back
        (3, d(1)), (3, d(2)), (3, d(3)),      # cohort day1, back 1 & 2
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {(r["cohort"], r["offset"]): r["users"]
           for r in cohort_retention(df, "day").collect()}
    assert got == {
        (d(0), 0): 2, (d(0), 2): 1,
        (d(1), 0): 1, (d(1), 1): 1, (d(1), 2): 1,
    }

    import pytest as _pt
    with _pt.raises(ValueError, match="bucket"):
        cohort_retention(df, "fortnight")


def test_cohort_retention_dst_offsets(spark):
    """Offsets are calendar deltas: across the US spring-forward day
    (2025-03-09, 23 h) in an America/New_York session, a 14-day and a
    2-day return still land at offsets 14 and 2, and the weekly matrix
    at 2 and 1 (fixed 86400/604800 s deltas truncated to one less)."""
    import datetime as dt

    from adtk_spark.operators.events import cohort_retention

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        d = lambda m, day: dt.datetime(2025, m, day, 12, 0)
        rows = [(1, d(3, 1)), (1, d(3, 15)),    # 14 days, over the DST day
                (2, d(3, 8)), (2, d(3, 10)),    # 2 days, over the DST day
                (3, d(2, 26)), (3, d(3, 12)),   # weeks of Feb 24 -> Mar 10
                (4, d(3, 5)), (4, d(3, 11))]    # weeks of Mar 3 -> Mar 10
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        days = {r["offset"] for r in cohort_retention(df, "day").collect()}
        assert days == {0, 2, 6, 14}, days
        weeks = {(r["cohort"].day, r["offset"]): r["users"]
                 for r in cohort_retention(df, "week").collect()}
        assert weeks == {(24, 0): 2, (24, 2): 2, (3, 0): 2, (3, 1): 2}, weeks
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_cohort_retention_plan_three_exchanges_no_join(spark):
    import datetime as dt
    import re

    from adtk_spark.operators.events import cohort_retention

    df = spark.createDataFrame(
        [(1, dt.datetime(2025, 1, 1))], "user_id long, ts timestamp")
    plan = cohort_retention(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 3, plan
    assert "Join" not in plan, plan


def test_interarrival_stats_regimes(spark):
    """Metronome source -> CV 0; bursty source (tight cluster + long
    silence) -> CV > 1; gap multiset invariant to same-ts tie order and
    to partitioning; single-event source emits nothing."""
    import datetime as dt

    from adtk_spark.operators.events import interarrival_stats

    t0 = dt.datetime(2025, 1, 1)
    rows = [("tick", t0 + dt.timedelta(seconds=10 * i)) for i in range(13)]
    burst = [0, 1, 2, 3, 4, 3600, 3601, 3602, 3603, 7200]
    rows += [("burst", t0 + dt.timedelta(seconds=s)) for s in burst]
    rows += [("lone", t0)]
    df = spark.createDataFrame(rows, "source string, ts timestamp")
    out = {r["source"]: r for r in interarrival_stats(df).collect()}
    assert set(out) == {"tick", "burst"}
    assert out["tick"]["n_gaps"] == 12
    assert out["tick"]["cv_gap"] == 0.0
    assert out["tick"]["mean_gap_secs"] == 10.0
    assert out["burst"]["cv_gap"] > 1.0
    assert out["burst"]["max_gap_secs"] == 3597.0
    out2 = {r["source"]: r for r in
            interarrival_stats(df.repartition(7)).collect()}
    assert {k: tuple(v) for k, v in out.items()} == \
           {k: tuple(v) for k, v in out2.items()}


def test_session_stats_bot_vs_humans(spark):
    """Same event volume, different shapes: many short human sessions
    vs one long scraper session — n_sessions and mean_events separate
    them; durations exact; partitioning-invariant."""
    import datetime as dt

    from adtk_spark.operators.events import session_stats, sessionize

    t0 = dt.datetime(2025, 1, 1)
    rows = []
    for s in range(5):                                  # 5 human sessions
        start = t0 + dt.timedelta(hours=3 * s)
        rows += [("human", start + dt.timedelta(seconds=30 * i))
                 for i in range(4)]                     # 4 events, 90 s
    rows += [("bot", t0 + dt.timedelta(seconds=10 * i))
             for i in range(20)]                        # one 190 s session
    df = spark.createDataFrame(rows, "source string, ts timestamp")
    out = {r["source"]: r for r in
           session_stats(sessionize(df, gap_secs=600)).collect()}
    assert out["human"]["n_sessions"] == 5
    assert out["human"]["mean_events"] == 4.0
    assert out["human"]["mean_duration_secs"] == 90.0
    assert out["bot"]["n_sessions"] == 1
    assert out["bot"]["mean_events"] == 20.0
    assert out["bot"]["max_duration_secs"] == 190.0
    out2 = {r["source"]: tuple(r) for r in
            session_stats(sessionize(df.repartition(7),
                                     gap_secs=600)).collect()}
    assert out2 == {k: tuple(v) for k, v in out.items()}


def test_user_concentration_gini(spark):
    """Perfectly equal traffic -> Gini 0; one user owning nearly all
    events -> Gini near 1 and a dominant top-k share; exact closed-form
    values; partitioning-invariant."""
    from adtk_spark.operators.events import user_concentration

    rows = [("equal", i % 10) for i in range(100)]          # 10 users x 10
    rows += [("mono", 1)] * 96 + [("mono", 2), ("mono", 3),
                                  ("mono", 4), ("mono", 5)]  # 1 user owns 96%
    df = spark.createDataFrame(rows, "source string, user_id long")
    out = {r["source"]: r for r in user_concentration(df, top_k=2).collect()}
    assert out["equal"]["gini"] == 0.0
    assert out["equal"]["n_users"] == 10 and out["equal"]["n_events"] == 100
    assert out["equal"]["top2_share"] == 0.2
    # sorted counts [1,1,1,1,96]: G = (2*(1+2+3+4+5*96) - 6*100)/(5*100)
    assert out["mono"]["gini"] == round((2 * (1 + 2 + 3 + 4 + 480) - 600) / 500, 6)
    assert out["mono"]["top2_share"] == 0.97
    out2 = {r["source"]: tuple(r) for r in
            user_concentration(df.repartition(7), top_k=2).collect()}
    assert out2 == {k: tuple(v) for k, v in out.items()}


def test_presence_lift_coupled_vs_chance(spark):
    """Two rare alarms sharing all their buckets score lift >> 1; two
    always-on sources score lift == 1 (chance); an anti-correlated
    rare pair never joins (min_joint drop); exact integer closed
    forms; partitioning-invariant."""
    import datetime as dt

    from adtk_spark.operators.events import presence_lift

    t0 = dt.datetime(2025, 1, 1)
    hours = [t0 + dt.timedelta(hours=i) for i in range(100)]
    rows = [("on1", h) for h in hours] + [("on2", h) for h in hours]
    rare = [hours[10], hours[40], hours[70]]
    rows += [("alarm_a", h) for h in rare] + [("alarm_b", h) for h in rare]
    rows += [("alarm_c", hours[5])]          # never with alarm_a
    df = spark.createDataFrame(rows, "source string, ts timestamp")
    out = {(r["source_a"], r["source_b"]): r
           for r in presence_lift(df, bucket="hour").collect()}
    assert out[("on1", "on2")]["lift"] == 1.0
    ab = out[("alarm_a", "alarm_b")]
    assert ab["n_joint"] == 3 and ab["jaccard"] == 1.0
    assert ab["lift"] == round(3 * 100 / 9, 6)           # 33.3x chance
    assert ("alarm_a", "alarm_c") not in out             # no shared bucket
    out2 = {(r["source_a"], r["source_b"]): tuple(r)
            for r in presence_lift(df.repartition(7), bucket="hour").collect()}
    assert out2 == {k: tuple(v) for k, v in out.items()}
