"""t-digest sketch: accuracy, merge-invariance, and the tier scale path."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from adtk_spark.functions.sketch import compress, digest_quantile_np

QS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


def rank_of(sorted_vals, x):
    return np.searchsorted(sorted_vals, x) / len(sorted_vals)


def test_digest_accuracy_numpy():
    rng = np.random.RandomState(7)
    vals = rng.lognormal(0.0, 1.5, 50_000)
    sv = np.sort(vals)
    m, w = compress(vals, np.ones_like(vals), 200)
    assert len(m) <= 200
    assert w.sum() == pytest.approx(len(vals))
    for q in QS:
        est = digest_quantile_np(m, w, q, sv[0], sv[-1])
        assert abs(rank_of(sv, est) - q) < 0.02, q


def test_digest_merge_order_invariant():
    rng = np.random.RandomState(8)
    vals = rng.standard_normal(30_000) * 10
    sv = np.sort(vals)
    chunks = np.array_split(vals, 24)
    digs = [compress(c, np.ones_like(c), 200) for c in chunks]

    def merge(order):
        m = np.concatenate([digs[i][0] for i in order])
        w = np.concatenate([digs[i][1] for i in order])
        return compress(m, w, 200)

    a = merge(range(24))
    b = merge(list(reversed(range(24))))
    for q in QS:
        ea = digest_quantile_np(a[0], a[1], q, sv[0], sv[-1])
        eb = digest_quantile_np(b[0], b[1], q, sv[0], sv[-1])
        assert ea == pytest.approx(eb, abs=1e-9), q  # order only permutes ties
        assert abs(rank_of(sv, ea) - q) < 0.03, q  # merged accuracy holds


def test_sketch_tier_chain(spark):
    """raw -> 1m -> 1h -> 1d with digest columns: algebraic stats equal
    the exact path bit-for-bit; the 1d vq estimates the RAW distribution
    quantile (which the exact path cannot provide without re-scanning
    raw) within t-digest rank error."""
    from adtk_spark.plans.tiers import rollup_raw, rollup_raw_sketch, rollup_up
    from adtk_spark.sources.tokens import token_corpus, token_series

    raw = token_series(token_corpus(spark, 4000, n_sources=4, seed=41,
                                    span_secs=3 * 86400)).cache()
    s1m = rollup_raw_sketch(raw, "1m")
    s1h = rollup_up(s1m, "1h")
    s1d = rollup_up(s1h, "1d")

    e1d = rollup_up(rollup_up(rollup_raw(raw, "1m"), "1h"), "1d")
    key = ["source", "bucket_ts"]
    got = {tuple(r[k] for k in key): r for r in s1d.collect()}
    exp = {tuple(r[k] for k in key): r for r in e1d.collect()}
    assert set(got) == set(exp)
    for k, g in got.items():
        x = exp[k]
        assert g["cnt"] == x["cnt"]
        assert g["vmin"] == x["vmin"] and g["vmax"] == x["vmax"]
        assert g["vsum"] == pytest.approx(x["vsum"], rel=1e-12)
        assert len(g["vdigest"]["means"]) <= 200

    # raw-distribution quantile check per 1d bucket
    pdf = raw.withColumn("b", F.date_trunc("day", F.col("ts"))).toPandas()
    for (src, b), grp in pdf.groupby(["source", "b"]):
        sv = np.sort(grp["value"].to_numpy())
        est = got[(src, b.to_pydatetime())]["vq"]
        assert abs(rank_of(sv, est) - 0.5) < 0.03, (src, b)
    raw.unpersist()


def test_sketch_plan_single_shuffle(spark):
    """The digest rides the existing one-exchange-per-tier plan: no
    extra shuffle vs the exact path."""
    from adtk_spark.plans.tiers import rollup_raw_sketch, rollup_up
    from adtk_spark.sources.tokens import token_corpus, token_series

    raw = token_series(token_corpus(spark, 500, n_sources=4, seed=42))
    plan = rollup_up(rollup_raw_sketch(raw, "1m"), "1h") \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 3  # gen roundrobin + one per tier



def test_sketch_tiers_digest_once_per_group(spark):
    """Each sketch producer collects its group's list once and runs its
    digest UDF once: one ``collect_list`` and one ``digest_of_arr`` /
    ``merge_digest_lists`` per optimized plan, although ``vdigest`` is
    both emitted and read by ``vq``."""
    from adtk_spark.plans.router import route_rollup
    from adtk_spark.plans.tiers import rollup_raw_sketch, rollup_up
    from adtk_spark.sources.tokens import token_corpus, token_series

    raw = token_series(token_corpus(spark, 300, n_sources=3, seed=43))
    s1m = rollup_raw_sketch(raw, "1m")
    done = s1m.localCheckpoint()  # the upper plans show only their own level
    plans = {
        "rollup_raw_sketch": s1m,
        "rollup_up": rollup_up(done, "1h"),
        "route_rollup": route_rollup({"1m": done}, 600),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("collect_list(") == 1, (name, plan)
        udfs = plan.count("digest_of_arr(") + plan.count("merge_digest_lists(")
        assert udfs == 1, (name, plan)
        assert plan.count("quantile_of_digest(") == 1, (name, plan)

from hypothesis import given, settings
from hypothesis import strategies as st


def _rank_interval_dist(sorted_vals, est, q):
    """Distance from q to the rank interval of est (duplicates make the
    rank an interval, not a point)."""
    n = len(sorted_vals)
    lo = np.searchsorted(sorted_vals, est, "left") / n
    hi = np.searchsorted(sorted_vals, est, "right") / n
    return 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
             min_size=1, max_size=2000),
    st.sampled_from([0.05, 0.25, 0.5, 0.75, 0.95]),
)
def test_digest_rank_error_bound_property(vals, q):
    """For ANY finite input multiset, the digest's quantile estimate
    lands within 0.05 + 1/n rank of the true quantile: 0.05 is 10x the
    t-digest O(1/delta) term at delta=200, and 1/n is the unavoidable
    rank quantum of interpolating between n discrete order statistics
    (e.g. [0,0,1] at q=0.75 interpolates to 0.75, whose empirical rank
    is 2/3 — off by 1/12 < 1/n)."""
    v = np.asarray(vals, dtype=float)
    sv = np.sort(v)
    m, w = compress(v, np.ones_like(v), 200)
    est = digest_quantile_np(m, w, q, sv[0], sv[-1])
    assert _rank_interval_dist(sv, est, q) <= 0.05 + 1.0 / len(v)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
             min_size=8, max_size=1500),
    st.integers(min_value=2, max_value=12),
)
def test_digest_merge_rank_error_bound_property(vals, n_chunks):
    """Merging chunked digests preserves the rank-error bound — the
    property the tier chain relies on at every re-aggregation level."""
    v = np.asarray(vals, dtype=float)
    sv = np.sort(v)
    parts = [c for c in np.array_split(v, n_chunks) if len(c)]
    ms, ws = zip(*(compress(c, np.ones_like(c), 200) for c in parts))
    m, w = compress(np.concatenate(ms), np.concatenate(ws), 200)
    assert w.sum() == pytest.approx(len(v))
    for q in (0.25, 0.5, 0.9):
        est = digest_quantile_np(m, w, q, sv[0], sv[-1])
        assert _rank_interval_dist(sv, est, q) <= 0.06 + 1.0 / len(v)
