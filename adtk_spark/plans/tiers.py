"""Tiered continuous aggregates: raw -> 1m -> 1h -> 1d, with retention.

The reference has no storage/rollup layer; these tiers are the north
rule's addition. Semantics (SURVEY.md §7.3 item 5): each tier holds
tumbling-window aggregates of the tier below — 1m aggregates raw
points; 1h/1d re-aggregate algebraically (min of mins, max of maxes,
sum of sums, count of counts; mean = vsum/cnt) and take their quantile
over the *finer tier's mean series* (a tier's series IS its points;
adtk detector semantics then apply per tier).

The tier algebra is defined once: ``tier_bucket`` (the bucket key),
``tier_stats`` (the raw aggregates and their finer-tier merge),
``tier_mean`` and ``with_digest`` (the t-digest tail). Every producer of
tier rows uses them — the rollups here, the router's merges and raw
fallback, and the streaming 1m rollups — so ``tier_stats`` is the one
place where the type of ``vsum`` is decided. Each routed family (stats,
sketch, TWA) is merged once, by ``merge_tier``: ``rollup_up`` calls it
with a coarser tier's bucket key, the router with a query window.

The statistics built on floating-point sums (drift scores, seasonality,
slopes, SAX, profiles) take their sums from ``functions/exact.py``, so
they do not depend on partitioning.

Scale notes:
- groupBy keys are (source, bucket): cardinality grows with time span,
  so parallelism scales with data; per-key size is bounded by
  events/bucket/source. Algebraic aggs combine map-side; the only
  holistic agg (percentile) sees at most one bucket's values per task.
- A pathologically hot (source, bucket) pair is handled by the salted
  two-phase path (``salt_partials``) for the algebraic part; AQE skew
  handling covers the join/shuffle side.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import exact_sum, ols_slope, ols_sums
from ..functions.windows import _interp_sorted, exact_quantile_agg, quoted, sorted_frame_arr
from ..session import one_partition_if_small

TIER_INTERVALS = {"1m": "minute", "1h": "hour", "1d": "day"}
#: one bucket of each tier as a CALENDAR interval (DST-safe bucket steps)
TIER_STEPS = {"1m": "INTERVAL 1 MINUTE", "1h": "INTERVAL 1 HOUR",
              "1d": "INTERVAL 1 DAY"}
TIER_ORDER = ["raw", "1m", "1h", "1d"]


def tier_bucket(ts: Column, tier: str) -> Column:
    """The ``bucket_ts`` key of ``tier``: ``ts`` truncated to the tier's
    calendar unit."""
    return F.date_trunc(TIER_INTERVALS[tier], ts).alias("bucket_ts")


def tier_stats(v: Column | None = None) -> list[Column]:
    """The algebraic tier aggregates ``cnt, vmin, vmax, vsum``: of the
    raw values ``v``, or, with no ``v``, merged from a finer tier's
    columns (sum of counts, min of mins, max of maxes, sum of sums).
    Every producer of tier rows aggregates through this list, so the
    sum's type is decided here and nowhere else: ``vsum`` has the type
    of ``F.sum`` over the value (a double for double input, an exact
    DECIMAL for DECIMAL input)."""
    if v is None:
        return [F.sum("cnt").alias("cnt"), F.min("vmin").alias("vmin"),
                F.max("vmax").alias("vmax"), F.sum("vsum").alias("vsum")]
    return [F.count(v).alias("cnt"), F.min(v).alias("vmin"),
            F.max(v).alias("vmax"), F.sum(v).alias("vsum")]


def tier_mean() -> Column:
    """``mean = vsum / cnt`` as a double. The cast is a no-op for a
    double ``vsum`` (Catalyst drops it) and turns a DECIMAL one into a
    double mean instead of a DECIMAL quotient."""
    return (F.col("vsum").cast("double") / F.col("cnt")).alias("mean")


def with_digest(agged: DataFrame, digest: Column, quantile: float) -> DataFrame:
    """The sketch-tier tail: ``agged`` holds the keys, the ``tier_stats``
    columns and the ``_parts`` list that ``digest`` compresses into a
    t-digest; the result appends ``vdigest, mean, vq`` in that order.

    One ``select`` on purpose: the digest UDF appears twice in it (as
    ``vdigest`` and inside ``vq``) and Spark evaluates identical Python
    UDFs of one projection once. Chained ``withColumn`` calls get
    collapsed into the aggregate instead, which then collects the list
    and runs the digest twice per group."""
    from ..functions.sketch import digest_quantile

    keep = [c for c in agged.columns if c != "_parts"]
    return agged.select(
        *keep,
        digest.alias("vdigest"),
        tier_mean(),
        digest_quantile(digest, quantile, F.col("vmin"), F.col("vmax"))
        .alias("vq"),
    )


def rollup_raw(
    df: DataFrame,
    tier: str = "1m",
    quantile: float = 0.5,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """First-level rollup from raw points."""
    v = F.col(value_col)
    return (
        df.groupBy(source_col, tier_bucket(F.col(ts_col), tier))
        .agg(*tier_stats(v), exact_quantile_agg(v, quantile).alias("vq"))
        .select("*", tier_mean())
    )


def tier_family(columns) -> str:
    """The mergeable family a tier's ``columns`` carry: ``"sketch"``
    (a ``vdigest`` t-digest), ``"twa"`` (the ``_w_us`` / ``_vw``
    time-weight sums) or ``"stats"`` (the ``tier_stats`` columns and
    ``mean``)."""
    if "vdigest" in columns:
        return "sketch"
    return "twa" if "_w_us" in columns else "stats"


def merge_tier(
    finer: DataFrame,
    key: Column,
    quantile: float | None = None,
    *,
    family: str,
    source_col: str = "source",
) -> DataFrame:
    """Re-merge a finer tier's stored state per (``source_col``,
    ``key``), never its raw points: the one merge of each family, for a
    coarser tier (``rollup_up``, ``key`` a ``tier_bucket``) and for a
    routed read (``route_rollup``, ``key`` a floor-epoch window). Both
    keys are aliased ``bucket_ts``.

    - ``stats``: ``tier_stats`` merged exactly, then ``mean``; with a
      ``quantile``, ``vq`` is the exact quantile of the finer tier's
      ``mean`` points (per-tier series semantics).
    - ``sketch``: the same stats plus the finer digests merged by concat
      and one re-compress (``with_digest``), so ``vq`` estimates the RAW
      distribution's quantile at every level; ``quantile`` None is 0.5.
    - ``twa``: the integer weight micros and DECIMAL value-seconds sum
      exactly, then ``twa_finish``; ``quantile`` is not used.
    """
    g = finer.groupBy(source_col, key)
    if family == "sketch":
        from ..functions.sketch import merge_digests

        agged = g.agg(*tier_stats(), F.collect_list("vdigest").alias("_parts"))
        return with_digest(agged, merge_digests(F.col("_parts")),
                           0.5 if quantile is None else quantile)
    if family == "twa":
        return twa_finish(g.agg(F.sum("_w_us").alias("_w_us"),
                                F.sum("_vw").alias("_vw")),
                          source_col=source_col)
    aggs = tier_stats()
    if quantile is not None:
        aggs.append(exact_quantile_agg(F.col("mean"), quantile).alias("vq"))
    return g.agg(*aggs).select("*", tier_mean())


def rollup_up(
    finer: DataFrame,
    tier: str,
    quantile: float = 0.5,
    *,
    source_col: str = "source",
) -> DataFrame:
    """Re-aggregate a finer tier into a coarser one, in the family its
    columns carry (``tier_family``; see ``merge_tier``). Algebraic stats
    and TWA sums merge exactly; the stats quantile is the quantile of
    the finer tier's mean points, the sketch quantile re-merges the
    digests. The result carries the same state, so tiers chain
    1m -> 1h -> 1d in every family."""
    return merge_tier(finer, tier_bucket(F.col("bucket_ts"), tier), quantile,
                      family=tier_family(finer.columns), source_col=source_col)


def build_tiers(
    series: DataFrame,
    quantile: float = 0.5,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> dict[str, DataFrame]:
    """raw -> 1m -> 1h -> 1d chain (lazy plan; caller materializes)."""
    t1m = rollup_raw(series, "1m", quantile, source_col=source_col,
                     ts_col=ts_col, value_col=value_col)
    t1h = rollup_up(t1m, "1h", quantile, source_col=source_col)
    t1d = rollup_up(t1h, "1d", quantile, source_col=source_col)
    return {"1m": t1m, "1h": t1h, "1d": t1d}


def tier_series(tier: DataFrame, stat: str = "mean",
                *, source_col: str = "source") -> DataFrame:
    """A tier as a detector-ready long series (source, ts, value)."""
    return tier.select(source_col, F.col("bucket_ts").alias("ts"),
                       F.col(stat).alias("value"))


def rollup_sliding(
    tier: DataFrame,
    width_secs: int,
    step_secs: int,
    quantile: float | None = None,
    *,
    source_col: str = "source",
) -> DataFrame:
    """Trailing sliding-window continuous aggregate over a tumbling tier.

    For every tier bucket t, aggregates all finer buckets in the window
    ``(t - width_secs, t]`` — e.g. ``width_secs=300, step_secs=60`` on
    the 1m tier is a 5-minute window sliding every minute (the north
    star's "tumbling/sliding window rollups ... as continuous
    aggregates"). Algebraic stats merge exactly from the tier partials
    (sum of sums, min of mins, count of counts); ``quantile`` (if set)
    is the exact type-7 quantile of the window's `mean` points, same
    per-tier series semantics as ``rollup_up``.

    Scale: computed FROM the tumbling tier, never from raw — input
    cardinality is already compacted by ``width/step``× vs raw, and the
    plan is one shuffle on ``source`` + a time-sorted RANGE frame of at
    most ``width_secs/step_secs`` rows, vs the ``F.window(slide)``
    explode idiom which multiplies raw rows by the overlap factor
    before the shuffle. Frame memory is bounded by the window width,
    independent of history length.
    """
    if width_secs % step_secs:
        raise ValueError("width_secs must be a multiple of step_secs")
    epoch = F.unix_timestamp(F.col("bucket_ts")).cast("long")
    win = (
        Window.partitionBy(source_col)
        .orderBy(epoch)
        .rangeBetween(-(width_secs - step_secs), 0)
    )
    cols = [
        F.col(source_col),
        F.col("bucket_ts"),
        F.sum("cnt").over(win).alias("w_cnt"),
        F.min("vmin").over(win).alias("w_min"),
        F.max("vmax").over(win).alias("w_max"),
        F.sum("vsum").over(win).alias("w_sum"),
    ]
    if quantile is None:
        out = tier.select(*cols)
    else:
        # one sorted frame buffer behind a projection boundary, then
        # interpolate — all window nodes share the (source, epoch)
        # sort, so Catalyst plans a single exchange+sort
        out = (
            tier.select(*cols, sorted_frame_arr("mean", win).alias("_arr"))
            .withColumn("w_q", _interp_sorted(F.col("_arr"), quantile))
            .drop("_arr")
        )
    return out.withColumn(
        "w_mean", F.col("w_sum").cast("double") / F.col("w_cnt")
    )


def rollup_raw_sketch(
    df: DataFrame,
    tier: str = "1m",
    quantile: float = 0.5,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """First-level rollup carrying a mergeable t-digest of the bucket's
    raw value distribution (functions/sketch.py).

    This is the 100 TB scale path for *raw-distribution* quantiles at
    coarse tiers: the exact stats chain defines ``vq`` over the finer
    tier's mean points, and recovering the true raw quantile at 1d
    would otherwise re-scan raw. Here every tier row stores <= 200
    centroids (``sketch.DEFAULT_DELTA``, ~3 KB) that coarser tiers
    (``rollup_up``) and routed reads (``route_rollup``) re-merge
    algebraically, so the 1d raw quantile costs one pass over the 1h
    rows — never a raw re-scan. ``vq`` is the digest estimate (rank
    error O(1/delta)); cnt/min/max/sum/mean stay exact.
    """
    from ..functions.sketch import digest_of_sorted_arr

    v = F.col(value_col)
    agged = df.groupBy(source_col, tier_bucket(F.col(ts_col), tier)).agg(
        *tier_stats(v), F.collect_list(v).alias("_parts"))
    return with_digest(agged, digest_of_sorted_arr(F.col("_parts")), quantile)


def rollup_ohlc(
    df: DataFrame,
    tier: str = "1m",
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """OHLC tumbling rollup: per (source, bucket) the first (open) and
    last (close) values by event time plus min/max — the financial-tier
    shape of the same one-shuffle groupBy as ``rollup_raw``. ``min_by``/
    ``max_by`` are algebraic (each partial keeps one (ts, value) champion,
    merged map-side), so the plan is identical to the algebraic rollup:
    no window, no sort, one exchange on (source, bucket).

    Determinism: assumes unique ``ts`` per source (validate_series
    dedups); with duplicate timestamps min_by/max_by tie-break
    arbitrarily.
    """
    v, t = F.col(value_col), F.col(ts_col)
    return (
        df.where(v.isNotNull())
        .groupBy(source_col, tier_bucket(t, tier))
        .agg(
            F.min_by(v, t).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, t).alias("close"),
            F.count(v).alias("cnt"),
        )
    )


def rollup_distinct(
    df: DataFrame,
    tier: str = "1h",
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Exact distinct-key count per (source, bucket) — the ops metric
    (unique users/devices per window) the algebraic tier family can't
    carry: COUNT(DISTINCT) is NOT re-aggregable upward (1h distincts
    don't sum to 1d). Catalyst plans the standard two-phase expand
    (partial distinct on (source, bucket, key) map-side, then count) —
    exact, but every level must recompute from the key level. For the
    10^12-row regime where that re-scan is the bottleneck, use
    ``rollup_distinct_sketch`` (mergeable HLL) instead.
    """
    return (
        df.groupBy(source_col, tier_bucket(F.col(ts_col), tier))
        .agg(F.countDistinct(key_col).alias("n_distinct"))
    )


def rollup_topk(
    df: DataFrame,
    tier: str = "1h",
    k: int = 3,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Exact heavy hitters per (source, bucket): the top-``k`` keys by
    row count with deterministic tie-breaks (count DESC, key ASC).
    Two-phase plan: counts collapse map-side on (source, bucket, key)
    — ONE shuffle carries at most one row per distinct key per bucket —
    then a rank window over the (small) per-bucket count rows. At the
    10^12-row regime where even the distinct-key level is too wide,
    cap the key space first (hash_sample on the key) or maintain a
    Misra-Gries summary in the streaming path; this operator is the
    exact serving-layer form.
    """
    counts = df.groupBy(
        source_col,
        tier_bucket(F.col(ts_col), tier),
        F.col(key_col).alias("key"),
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy(source_col, "bucket_ts").orderBy(
        F.col("cnt").desc(), F.col("key").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def rollup_topk_up(
    topk_finer: DataFrame,
    tier: str = "1d",
    k: int = 3,
    *,
    source_col: str = "source",
) -> DataFrame:
    """Heavy hitters at a COARSER tier merged from the finer tier's
    stored top-``m`` rows, without re-reading the raw key level — the
    Datasketches frequent-items pattern completing the mergeable-tier
    family (t-digest quantiles, HLL distincts, fixed-bin histograms,
    and now top-k). Same output shape as ``rollup_topk``.

    Approximation contract (Misra-Gries truncation): merged counts are
    LOWER BOUNDS — a key outside some finer bucket's stored top-m
    contributes 0 there, and its true coarse count exceeds the merged
    one by at most the sum of those buckets' m-th counts. The merge is
    EXACT (identical to re-reading raw) whenever every coarse top-k key
    made every finer bucket's top-m — store m comfortably above the
    serving k (m = 4k is the usual slack) and skewed hitters satisfy it.

    Plan: one (source, coarse bucket, key) groupBy over rows that
    number at most m per finer bucket, then the same deterministic rank
    window — the whole merge touches tier rows only.
    """
    g = topk_finer.groupBy(
        source_col,
        tier_bucket(F.col("bucket_ts"), tier),
        "key",
    ).agg(F.sum("cnt").alias("cnt"))
    w = Window.partitionBy(source_col, "bucket_ts").orderBy(
        F.col("cnt").desc(), F.col("key").asc()
    )
    return (
        g.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def bin_index(v: Column, edges: list[float]) -> Column:
    """Number of ``edges`` <= v (NULL for NULL): a branch-free sum of
    indicator casts — whole-stage codegen, identical in any SQL dialect.
    ``edges`` must be non-empty and strictly increasing, as
    ``numpy.histogram`` requires of its bin edges."""
    edges = [float(e) for e in edges]
    if not edges or any(b <= a for a, b in zip(edges, edges[1:])):
        raise ValueError(f"bin edges must be non-empty and strictly increasing, got {edges}")
    return reduce(operator.add, [(v >= e).cast("int") for e in edges])


def bin_counts(bin_col: Column, k: int) -> list[Column]:
    """The ``k`` bins unrolled as integer sums ``_c0.._c{k-1}``: one row
    per group, and a bin empty in that group reads 0 (no missing row)."""
    return [F.sum((bin_col == i).cast("long")).alias(f"_c{i}")
            for i in range(k)]


def psi_term(p: Column, q: Column, eps: float) -> Column:
    """One bin's ``(p - q) * ln(p / q)`` over eps-floored proportions (a
    NULL one floors too), 1e-9-quantized so DECIMAL sums are exact in
    any order — the one association every PSI path shares."""
    p = F.greatest(p, F.lit(eps))
    q = F.greatest(q, F.lit(eps))
    return F.round((p - q) * F.log(p / q), 9)


def psi_sum(ps: list[Column], qs: list[Column], eps: float) -> Column:
    """PSI over unrolled per-bin proportions, rounded to 6 places: the
    ``psi_term`` chain, equal to ``psi_drift``'s order-free DECIMAL sum."""
    # decimal(20,9), NOT (38,9): Spark grows precision by 1 per chained
    # add and SILENTLY DROPS SCALE (9 -> 8 -> ... -> 6) once the cap of
    # 38 is hit — (20,9) leaves 18 digits of headroom for the chain
    total = reduce(operator.add, [psi_term(p, q, eps).cast("decimal(20,9)")
                                  for p, q in zip(ps, qs)])
    return F.round(total.cast("double"), 6)


def split_counts(df: DataFrame, key: Column, split_ts, *,
                 source_col: str = "source", ts_col: str = "ts",
                 value_col: str = "value") -> DataFrame:
    """(source, k, cref, ccur): per (source, ``key``) counts of the
    reference (``ts < split_ts``) and current windows over the non-NULL
    values — one map-side combinable shuffle, none for a small input
    (``one_partition_if_small``)."""
    df = one_partition_if_small(df)
    is_ref = F.col(ts_col) < F.lit(split_ts)
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(source_col, key.alias("k"))
        .agg(F.sum(F.when(is_ref, 1).otherwise(0)).alias("cref"),
             F.sum(F.when(is_ref, 0).otherwise(1)).alias("ccur"))
    )


def distribution_compare(counts: DataFrame, stat: str, by: list[str], *,
                         eps: float = 1e-6,
                         extra: tuple[Column, ...] = ()) -> DataFrame:
    """Score reference vs current per ``by`` group of a (``by``, k, cref,
    ccur) count table: ``stat`` ``psi`` or ``jsd`` over bins ``k``, or
    ``ks`` (max ECDF gap over ordered values ``k``). Emits ``by``, the
    ``extra`` aggregates, ``n_ref``, ``n_cur`` and the score named
    ``stat``. An empty side floors PSI proportions at eps; JSD and KS
    are NULL then.

    Plan: totals (and KS's cumulative counts) are WINDOW sums over the
    ``by`` partitioning, which the final reduce reuses — one Exchange,
    no join (a totals-aggregate + join-back plans the counts twice).
    Built as one projection and one aggregate, the score computed inside
    the aggregate.
    Integer counts, 1e-9-quantized DECIMAL term sums and KS's integer
    cross products make every score bit-stable at any parallelism.
    """
    if stat not in ("psi", "jsd", "ks"):
        raise ValueError(
            f"distribution_compare: stat must be psi, jsd or ks, got {stat!r}")
    # the window sums as SQL: a string costs one py4j round trip, a
    # WindowSpec and its Columns about ten
    w = "PARTITION BY " + ", ".join(map(quoted, by))
    totals = [f"sum(cref) OVER ({w}) AS n_ref", f"sum(ccur) OVER ({w}) AS n_cur"]
    # the reduce's n_ref / n_cur, referenced inside the score as well:
    # one aggregate each (identical aggregates are evaluated once)
    n_ref, n_cur = F.min("n_ref"), F.min("n_cur")
    if stat == "ks":
        wcum = f"OVER ({w} ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        totals += [f"sum(cref) {wcum} AS rc", f"sum(ccur) {wcum} AS cc"]
        # DECIMAL products, numerator AND denominator: two ~3e9+ counts
        # multiplied as int64 wrap (r04 ADVICE); (38,0) holds 1e26
        dec = "decimal(20,0)"
        gap = F.max(F.abs(F.col("rc").cast(dec) * F.col("n_cur").cast(dec)
                          - F.col("cc").cast(dec) * F.col("n_ref").cast(dec)))
        score = F.round(gap.cast("double") / (
            n_ref.cast(dec) * n_cur.cast(dec)).cast("double"), 6)
    else:
        cref, ccur = F.col("cref"), F.col("ccur")
        nr, nc = F.col("n_ref"), F.col("n_cur")
        p = F.when(nr > 0, cref / nr)
        q = F.when(nc > 0, ccur / nc)
        if stat == "psi":
            term = psi_term(p, q, eps)
        else:
            m = (p + q) * F.lit(0.5)
            term = F.round(
                F.when(p > 0, F.lit(0.5) * p * F.log(p / m)).otherwise(0.0)
                + F.when(q > 0, F.lit(0.5) * q * F.log(q / m)).otherwise(0.0),
                9)
        score = F.round(exact_sum(term, quantize=False), 6)
    if stat != "psi":
        score = F.when((n_ref > 0) & (n_cur > 0), score)
    return (
        counts.selectExpr("*", *totals)
        .groupBy(*by)
        .agg(*extra, n_ref.alias("n_ref"), n_cur.alias("n_cur"), score.alias(stat))
    )


def rollup_hist(
    df: DataFrame,
    edges: list[float],
    tier: str = "1m",
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Mergeable histogram tier: per (source, bucket, bin) row counts
    over EXPLICIT bin edges (``bin_index``) — the exact, trivially
    re-aggregable distribution tier. Bin counts SUM upward
    (``rollup_hist_up``), so a 1m -> 1h -> 1d heatmap chain reads raw
    once; fixed bins are the exact complement to the adaptive t-digest
    column (sketch.py) when the value range is known (latency SLO
    buckets, token-count bands). Relational one-row-per-nonempty-bin
    form keeps the upward merge algebraic and skew-free.
    """
    v = F.col(value_col)
    return (
        df.where(v.isNotNull())
        .groupBy(
            source_col,
            tier_bucket(F.col(ts_col), tier),
            bin_index(v, edges).alias("bin"),
        )
        .agg(F.count("*").alias("cnt"))
    )


def rollup_hist_up(
    finer: DataFrame,
    tier: str,
    *,
    source_col: str = "source",
) -> DataFrame:
    """Merge a finer histogram tier up to ``tier``: bin counts sum —
    one algebraic groupBy over tier rows, never the raw values."""
    return finer.groupBy(
        source_col, tier_bucket(F.col("bucket_ts"), tier), "bin",
    ).agg(F.sum("cnt").alias("cnt"))


def psi_drift(
    df: DataFrame,
    split_ts,
    edges: list[float],
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index per source between a reference window
    (``ts < split_ts``) and the current window (``ts >= split_ts``) over
    EXPLICIT value-bin edges: ``PSI = sum_bins (p_i - q_i) ln(p_i/q_i)``
    with proportions floored at ``eps`` — the standard
    distribution-drift monitor (PSI > 0.2 = major shift) a training-data
    pipeline runs per source per day to catch upstream regressions
    before they reach a model.

    Plan shape: ``split_counts`` over the observed (source, bin) pairs,
    then ``distribution_compare`` — exactly two Exchanges, no join.
    """
    counts = split_counts(df, bin_index(F.col(value_col), edges), split_ts,
                          source_col=source_col, ts_col=ts_col,
                          value_col=value_col)
    return distribution_compare(counts, "psi", [source_col], eps=eps)


def rollup_twa(
    df: DataFrame,
    tier: str = "1h",
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Time-weighted average per (source, bucket) for IRREGULAR series
    (TimescaleDB ``time_weight('LOCF')`` analogue): each observation
    holds its value until the next one, so a sensor that reports every
    second and then sleeps an hour doesn't get its sleep value counted
    once — plain ``mean`` is sampling-rate-biased, TWA is not. A
    point's segment [ts, next_ts) is split across every tier bucket it
    spans (the interval-explode device, so month-long silences weight
    their buckets correctly); the series' last point ends its segment
    (no extrapolation past the final observation).

    Plan shape: ONE (source, ts) window for the lead; the
    (source, bucket) groupBy's clustering is satisfied by that same
    source partitioning, so the WHOLE operator is one Exchange
    (asserted in tests). Determinism: overlap
    micros are integers, each ``value x overlap-seconds`` term is
    quantized to 1e-6 and DECIMAL-summed, the weight sum is an exact
    integer — one final division, bit-stable at any parallelism.
    The tier keeps those exact partials as ``_w_us``/``_vw`` next to
    ``covered_secs`` and ``twa`` (``twa_finish``), so ``rollup_up`` and
    ``route_rollup`` merge it without re-reading raw points.
    """
    trunc = TIER_INTERVALS[tier]
    # CALENDAR interval stepping, not fixed 60/3600/86400 s: with a
    # non-UTC session timezone, date_trunc('day') buckets around DST
    # transitions are 23/25 h wide, and a fixed-seconds explode would
    # mislabel or skip those buckets — same hazard fixed in
    # rollup_retention and counter_rate (r04 ADVICE). In UTC the
    # arithmetic is bit-identical to the fixed-step version.
    shift = TIER_STEPS[tier]
    w = Window.partitionBy(source_col).orderBy(ts_col)
    seg = (
        df.where(F.col(value_col).isNotNull())
        .select(
            source_col,
            F.col(ts_col).alias("_s"),
            F.lead(ts_col).over(w).alias("_e"),
            F.col(value_col).alias("_v"),
        )
        .where(F.col("_e").isNotNull() & (F.col("_e") > F.col("_s")))
    )
    ex = seg.select(
        source_col, "_s", "_e", "_v",
        F.explode(F.sequence(F.date_trunc(trunc, F.col("_s")),
                             F.date_trunc(trunc, F.col("_e")),
                             F.expr(shift))).alias("_bts"),
    )
    us = F.unix_micros
    b_lo = us(F.col("_bts"))
    b_hi = us(F.col("_bts") + F.expr(shift))
    ov = (F.least(us(F.col("_e").cast("timestamp")), b_hi)
          - F.greatest(us(F.col("_s").cast("timestamp")), b_lo))
    term = F.round(F.col("_v") * (ov.cast("double") / 1000000.0), 6) \
        .cast("decimal(38,6)")
    agged = ex.where(ov > 0).groupBy(
        source_col, F.col("_bts").alias("bucket_ts")
    ).agg(
        F.sum(ov).alias("_w_us"),
        F.sum(term).alias("_vw"),
    )
    return twa_finish(agged, source_col=source_col)


def twa_finish(sums: DataFrame, *, source_col: str = "source") -> DataFrame:
    """A TWA tier's rows from its exact sums: ``_w_us`` (integer weight
    micros) and ``_vw`` (DECIMAL value-seconds), then ``covered_secs``
    and ``twa``, each one division of the sums rounded to 6 places.

    A merged tier differs from a direct coarse ``rollup_twa`` only by
    where segments were cut for quantization (hour vs day boundaries):
    bounded by 5e-7 x pieces / covered_secs, far below the 1e-6 output
    rounding for any real bucket (tolerance-tested)."""
    secs = F.col("_w_us").cast("double") / 1000000.0
    return sums.select(
        source_col, "bucket_ts", "_w_us", "_vw",
        F.round(secs, 6).alias("covered_secs"),
        F.round(F.col("_vw").cast("double") / secs, 6).alias("twa"),
    )


def psi_reference(
    df: DataFrame,
    edges: list[float],
    *,
    source_col: str = "source",
    value_col: str = "value",
) -> DataFrame:
    """Fit the per-source reference bin distribution ``psi_drift``
    compares against: one row per source with ``n_ref`` and ``props``
    (bin proportions, ``len(edges)+1`` entries). Feed the collected
    result to ``streaming_psi_drift`` to monitor a live feed against a
    frozen training-time distribution.

    Scale: ONE groupBy(source) with the bins unrolled as conditional
    integer sums (map-side combinable) — no (source, bin) row
    materialization, no second pass. Proportions are single IEEE
    divisions of exact integer counts, so the collected literals replay
    bit-equal wherever they are re-embedded.
    """
    v = F.col(value_col)
    k = len(edges) + 1
    d = df.where(v.isNotNull()).withColumn("_bin", bin_index(v, edges))
    agg = d.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_ref"), *bin_counts(F.col("_bin"), k))
    props = F.array(*[F.col(f"_c{i}") / F.col("n_ref") for i in range(k)])
    return agg.select(source_col, "n_ref", props.alias("props"))


def ks_drift(
    df: DataFrame,
    split_ts,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    round_to: int | None = None,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic per source between the
    reference window (``ts < split_ts``) and the current window
    (``ts >= split_ts``): ``D = max_x |F_ref(x) - F_cur(x)|`` over the
    empirical CDFs. The bin-free companion to ``psi_drift`` — PSI needs
    explicit edges chosen in advance and saturates on unseen mass; KS
    is parameter-free and catches any shape change, so a feed monitor
    runs both (PSI for interpretable per-bin attribution, KS for the
    edge-free alarm).

    Plan shape: ``split_counts`` over (source, value), then
    ``distribution_compare`` — exactly two Exchanges, no join. The
    statistic is ENTIRELY integer, ``D = max |rc*n_cur - cc*n_ref| /
    (n_ref*n_cur)`` over cumulative counts rc/cc at each distinct value:
    an exact max (no float ECDF ties) and one final division. Sources
    empty on either side emit NULL ks.

    Scale caveat: the second stage's per-source cumsum runs over the
    DISTINCT values of that source — already-quantized data (token
    counts, integer gauges) keeps it tiny, but continuous floats
    degenerate toward one sorted pass per source. For those, set
    ``round_to`` (decimal places) to bound distinct values; the KS
    statistic of the rounded sample differs from the raw one by at
    most the mass within half an ulp of each cut — at round_to=3 that
    is far below any actionable drift threshold.
    """
    v = F.col(value_col)
    if round_to is not None:
        v = F.round(v, round_to)
    counts = split_counts(df, v, split_ts, source_col=source_col,
                          ts_col=ts_col, value_col=value_col)
    return distribution_compare(counts, "ks", [source_col])


def js_drift(
    df: DataFrame,
    split_ts,
    edges: list[float],
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Jensen-Shannon divergence per source between the reference
    window (``ts < split_ts``) and the current window over EXPLICIT
    value-bin edges: ``JSD = KL(p||m)/2 + KL(q||m)/2`` with
    ``m = (p+q)/2``. The bounded companion to ``psi_drift`` over the
    same bins: PSI is unbounded and needs an eps floor exactly where
    drift is worst (a bin empty on one side), JSD handles
    zero-proportion bins natively (``0*ln(0) = 0`` and ``m > 0``
    whenever the bin is observed at all) and saturates at ``ln 2``, so
    thresholds transfer across sources with wildly different
    distributions. A feed monitor runs all three: PSI for per-bin
    attribution, KS for the edge-free alarm, JSD for the bounded
    cross-source comparable score.

    Plan shape: identical to ``psi_drift``. Each bin's term is
    ``0.5*p*ln(p/m) + 0.5*q*ln(q/m)``. Sources empty on either side
    emit NULL jsd (KS convention — "distance to no data" is not
    0.5*ln2).
    """
    counts = split_counts(df, bin_index(F.col(value_col), edges), split_ts,
                          source_col=source_col, ts_col=ts_col,
                          value_col=value_col)
    return distribution_compare(counts, "jsd", [source_col])


def psi_timeline(
    df: DataFrame,
    edges: list[float],
    tier: str = "1d",
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    eps: float = 1e-6,
) -> DataFrame:
    """PSI drift TIMELINE: each tier bucket's value distribution scored
    against the source's previous observed bucket — ``psi_drift`` gives
    one number for one chosen split; this gives the per-source
    day-over-day (or hour-over-hour) drift series a feed dashboard
    plots and alerts on. Emits ``prev_bucket_ts`` so a consumer can see
    when "previous" skipped an ingest gap; the first bucket per source
    has NULL psi.

    Plan shape: ONE (source, bucket) groupBy with the bins unrolled as
    conditional integer sums (no (source, bucket, bin) row
    materialization — a lag over sparse bin rows would silently skip
    empty bins), then ONE lag window over the source partitioning —
    two Exchanges, no join. Scored by ``psi_sum``, bit-equal to
    psi_drift/streaming_psi_drift at any parallelism.
    """
    v = F.col(value_col)
    k = len(edges) + 1
    per = (
        df.where(v.isNotNull())
        .withColumn("_bin", bin_index(v, edges))
        .groupBy(source_col, tier_bucket(F.col(ts_col), tier))
        .agg(F.count(F.lit(1)).alias("n_cur"), *bin_counts(F.col("_bin"), k))
    )
    w = Window.partitionBy(source_col).orderBy("bucket_ts")
    lagged = per.select(
        source_col, "bucket_ts", "n_cur",
        F.lag("bucket_ts").over(w).alias("prev_bucket_ts"),
        F.lag("n_cur").over(w).alias("n_prev"),
        *[F.col(f"_c{i}") for i in range(k)],
        *[F.lag(f"_c{i}").over(w).alias(f"_p{i}") for i in range(k)],
    )
    # F.greatest skips NULLs: without the gate, the first bucket would
    # score against an eps-floored phantom instead of emitting NULL
    psi = F.when(F.col("n_prev").isNotNull(), psi_sum(
        [F.col(f"_p{i}") / F.col("n_prev") for i in range(k)],
        [F.col(f"_c{i}") / F.col("n_cur") for i in range(k)], eps))
    return lagged.select(
        source_col, "bucket_ts", "prev_bucket_ts", "n_prev", "n_cur",
        psi.alias("psi"),
    )


def seasonality_strength(
    df: DataFrame,
    period_secs: int,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """How seasonal is each source at a CANDIDATE period? Emits
    ``strength = max(0, 1 - Var(x - phase_mean) / Var(x))`` — the
    fraction of variance a phase-of-period profile explains (1 = pure
    seasonal, 0 = the period explains nothing). The routing knob in
    front of SeasonalAD/ClassicSeasonalDecomposition: score a period
    grid per source, send only genuinely seasonal sources (say
    strength > 0.6) into the seasonal detectors, plain shift/persist
    detectors for the rest.

    This is ``seasonality_scan`` over the one period: the same plan and
    the same columns ``(source, n, period_secs, strength)``.
    """
    return seasonality_scan(df, [period_secs], source_col=source_col,
                            ts_col=ts_col, value_col=value_col)


def seasonality_scan(
    df: DataFrame,
    periods: list[int],
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """``seasonality_strength`` over a whole CANDIDATE-PERIOD GRID in
    one plan: the input is exploded once per period and every
    (source, period, phase) mean comes from a single shared window pass
    — two Exchanges for the entire grid, where p separate strength
    calls would cost 2p. The practical router call: scan
    [hour, day, week], route each source by its best period.

    Output one row per (source, period_secs) with n and strength.
    Determinism: phase/overall means are exact sums with ONE final
    division and the squared residuals are exact sums
    (``functions/exact.py``), so the score is bit-stable at any
    parallelism.
    """
    v = F.col(value_col)
    secs = F.unix_micros(F.col(ts_col).cast("timestamp")) / F.lit(1_000_000)
    d = (
        df.where(v.isNotNull())
        .select(source_col, v.alias("_v"),
                F.floor(secs).cast("long").alias("_secs"))
        .withColumn("period_secs",
                    F.explode(F.array(*[F.lit(int(p)) for p in periods])))
        .withColumn("_ph", F.col("_secs") % F.col("period_secs"))
    )

    def mean(win) -> Column:
        return (exact_sum(F.col("_v"), over=win)
                / F.count(F.lit(1)).over(win))

    def ss(mean_col: str) -> Column:
        r = F.col("_v") - F.col(mean_col)
        return exact_sum(r * r)

    wp = Window.partitionBy(source_col, "period_secs", "_ph")
    ws = Window.partitionBy(source_col, "period_secs")
    d = d.withColumn("_pm", mean(wp)).withColumn("_m", mean(ws))
    out = d.groupBy(source_col, "period_secs").agg(
        F.count(F.lit(1)).alias("n"),
        ss("_pm").alias("_ssr"),
        ss("_m").alias("_sst"),
    )
    strength = F.when(
        F.col("_sst") > 0,
        F.greatest(F.lit(0.0),
                   F.round(F.lit(1.0) - F.col("_ssr") / F.col("_sst"), 6)),
    )
    return out.select(source_col, "n", "period_secs",
                      strength.alias("strength"))


def seasonal_naive_anomaly(
    df: DataFrame,
    period_secs: int,
    z: float = 3.0,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Seasonal-naive residual anomaly over a (tier) series: baseline =
    the value exactly one period earlier (the forecasting-textbook
    "seasonal naive" forecast), residual = value - baseline, flagged
    when |residual - mu_resid| > z * sd_resid per source. The
    tier-native complement to SeasonalAD: where the classic
    decomposition fits a phase profile (and needs a fit pass), the
    naive baseline is a pure window expression — the right first-line
    monitor over 1h/1d rollup tiers ("is this hour unlike the same
    hour yesterday, beyond this source's normal day-over-day churn?").

    Plan shape: ONE Exchange (hash on source). The baseline is an
    exact-offset RANGE frame over epoch micros (never a row lag, so
    missing buckets yield NULL baselines instead of silently comparing
    against the wrong period), and the residual moments are unordered
    whole-partition windows over the SAME source partitioning — no
    join, no second shuffle, no fit action. Scales per source-span
    like every tier window.

    Determinism: residuals are 1e-9-quantized before the DECIMAL
    moment sums; mu/var/sd are then single IEEE expressions on exact
    inputs, so the flag is bit-stable at any parallelism and
    replayable in SQL (DuckDB: the same exact-offset RANGE frame with
    INTERVAL bounds).
    """
    v = F.col(value_col)
    eus = F.unix_micros(F.col(ts_col).cast("timestamp"))
    off = int(period_secs) * 1_000_000
    wb = (
        Window.partitionBy(source_col)
        .orderBy(eus)
        .rangeBetween(-off, -off)
    )
    d = df.select(source_col, ts_col, v.alias("_v")).withColumn(
        "_base", F.max("_v").over(wb))
    # NOTE: the residual is quantized to 1e-9 ONLY inside the DECIMAL
    # moment sums; every emitted value rounds the ORGANIC double once.
    # Rounding an already-9-quantized value to 6 decimals manufactures
    # exact ...500 ties where Spark's shortest-repr HALF_UP and a
    # binary-rounding engine disagree (~1/1000 rows) — caught live at
    # sf0.1.
    d = d.withColumn("_r", F.col("_v") - F.col("_base"))
    ws = Window.partitionBy(source_col)
    n = F.count("_r").over(ws)
    s = exact_sum(F.col("_r"), over=ws)
    ss = exact_sum(F.col("_r") * F.col("_r"), over=ws)
    d = d.select(source_col, ts_col, "_v", "_base", "_r",
                 n.alias("_n"), s.alias("_s"), ss.alias("_ss"))
    mu = F.col("_s") / F.col("_n")
    sd = F.sqrt(F.greatest(
        F.col("_ss") / F.col("_n") - mu * mu, F.lit(0.0)))
    flag = F.when(
        F.col("_r").isNotNull(),
        F.abs(F.col("_r") - mu) > F.lit(float(z)) * sd,
    )
    return d.select(
        source_col,
        ts_col,
        F.round("_v", 6).alias("value"),
        F.round("_base", 6).alias("baseline"),
        F.round("_r", 6).alias("resid"),
        flag.alias("is_anomaly"),
    )


def rollup_retention(
    df: DataFrame,
    tier: str = "1h",
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Consecutive-bucket retention: per (source, bucket) the number of
    distinct keys also present in the PREVIOUS bucket, plus the
    bucket's own distinct count and the retention ratio — the
    stickiness metric distinct counts alone can't give (set
    intersection is not re-aggregable; it needs the key level once).

    Plan: one map-side distinct collapse to (source, bucket, key) rows,
    then a self equi-join on (source, key, next-bucket) — co-located
    on the same hash keys, so AQE plans a single shuffle reused by both
    sides — and an algebraic count per bucket. Buckets with no
    predecessor simply report retained = 0.

    The previous-bucket shift uses a CALENDAR interval (INTERVAL 1 DAY
    etc.), not fixed seconds: with a non-UTC session timezone,
    date_trunc('day') buckets around DST transitions are 23/25 h wide,
    and a fixed 86400 s shift would miss the join and silently read
    retention 0 on those days (r03 ADVICE).
    """
    shift = TIER_STEPS[tier]
    cur = df.select(
        source_col,
        tier_bucket(F.col(ts_col), tier),
        F.col(key_col).alias("key"),
    ).distinct()
    prev_shifted = cur.select(
        source_col,
        (F.col("bucket_ts") + F.expr(shift)).alias("bucket_ts"),
        "key",
    )
    retained = (
        cur.join(prev_shifted, [source_col, "bucket_ts", "key"])
        .groupBy(source_col, "bucket_ts")
        .agg(F.count("*").alias("n_retained"))
    )
    totals = cur.groupBy(source_col, "bucket_ts").agg(
        F.count("*").alias("n_distinct")
    )
    return (
        totals.join(retained, [source_col, "bucket_ts"], "left")
        .select(
            source_col,
            "bucket_ts",
            "n_distinct",
            F.coalesce("n_retained", F.lit(0)).alias("n_retained"),
            F.round(
                F.coalesce("n_retained", F.lit(0)) / F.col("n_distinct"), 6
            ).alias("retention"),
        )
    )


def rollup_distinct_sketch(
    df: DataFrame,
    tier: str = "1m",
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    key_col: str = "user_id",
    lg_k: int = 12,
) -> DataFrame:
    """Mergeable distinct-count tier: per (source, bucket) a Datasketches
    HLL sketch (``hll_sketch_agg``) instead of an exact distinct — the
    same role the t-digest column plays for quantiles. Sketches union
    upward (``rollup_distinct_up``) without touching the key level
    again, so a raw->1m->1h->1d distinct chain reads the raw keys ONCE
    (the Iceberg theta/HLL-sketch pattern). ~0.8% relative error at
    lg_k=12 with 4 KB per bucket.
    """
    return (
        df.groupBy(source_col, tier_bucket(F.col(ts_col), tier))
        .agg(F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("hll"))
        .withColumn("n_distinct_est", F.hll_sketch_estimate("hll").cast("long"))
    )


def rollup_distinct_up(
    finer: DataFrame,
    tier: str,
    *,
    source_col: str = "source",
) -> DataFrame:
    """Union a finer sketch tier up to ``tier``: hll_union_agg merges
    the per-bucket sketches — one shuffle over sketch rows (thousands
    of bytes per bucket), never the raw keys."""
    return (
        finer.groupBy(source_col, tier_bucket(F.col("bucket_ts"), tier))
        .agg(F.hll_union_agg("hll").alias("hll"))
        .withColumn("n_distinct_est", F.hll_sketch_estimate("hll").cast("long"))
    )


def m4_downsample(
    df: DataFrame,
    width: str = "15 minutes",
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """M4 visualization-grade downsampling (Jugel et al., VLDB 2014):
    per (source, tumbling ``width`` bucket) keep ONLY the real points a
    line rendering needs — the first, last, min-value and max-value
    tuples — and drop everything else. Error-free for pixel-perfect
    line charts when ``width`` matches the pixel column; at 100 TB this
    is the serve-a-dashboard operator (<=4 rows out per bucket
    regardless of input density).

    Plan shape: ONE shuffle (the groupBy on (source, bucket)); the <=4
    champions per bucket are algebraic aggregates (min/max/min_by/
    max_by/struct-min merge map-side), then a local array_distinct +
    explode — no second exchange, no window, no sort.

    Determinism (required for oracle hashing): assumes unique ``ts``
    per source (validate_series parity — the engine's standing series
    precondition). Ties on *value* are broken by timestamp via struct
    ordering: the min point is (vmin, earliest ts among vmin rows), the
    max point is (vmax, latest ts among vmax rows).

    Returns (source, ts, value) rows — a genuine sub-series of the
    input, ordered relation semantics left to the caller.
    """
    v, t = F.col(value_col), F.col(ts_col)
    agg = (
        df.where(v.isNotNull())
        .groupBy(source_col, F.window(t, width)["start"].alias("_bucket"))
        .agg(
            F.min(t).alias("_tf"),
            F.min_by(v, t).alias("_vf"),
            F.max(t).alias("_tl"),
            F.max_by(v, t).alias("_vl"),
            F.min(F.struct(v.alias("v"), t.alias("t"))).alias("_mn"),
            F.max(F.struct(v.alias("v"), t.alias("t"))).alias("_mx"),
        )
    )
    pts = agg.select(
        source_col,
        F.explode(
            F.array_distinct(
                F.array(
                    F.struct(F.col("_tf").alias(ts_col), F.col("_vf").alias(value_col)),
                    F.struct(
                        F.col("_mn")["t"].alias(ts_col),
                        F.col("_mn")["v"].alias(value_col),
                    ),
                    F.struct(
                        F.col("_mx")["t"].alias(ts_col),
                        F.col("_mx")["v"].alias(value_col),
                    ),
                    F.struct(F.col("_tl").alias(ts_col), F.col("_vl").alias(value_col)),
                )
            )
        ).alias("_p"),
    )
    return pts.select(source_col, f"_p.{ts_col}", f"_p.{value_col}")


def rollup_slope(
    df: DataFrame,
    tier: str = "1h",
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-bucket OLS trend tier: the least-squares slope of value vs
    time inside each (source, tumbling bucket) — the PromQL ``deriv()``
    analogue as a materialized tier, for "how fast is this metric
    moving" dashboards and pre-breach alerting where ``counter_rate``
    only fits monotone counters.

    Closed form from sums, one shuffle: ``slope = (n*Sxy - Sx*Sy) /
    (n*Sxx - Sx^2)`` with x = seconds since the bucket start. All five
    statistics combine map-side (algebraic), so the plan is exactly the
    rollup_raw shape — groupBy (source, bucket), no window, no second
    pass, per-bucket work bounded by bucket density.

    Determinism: x is derived from integer micros relative to the
    bucket start (never absolute epoch, so Sxx stays small and the
    per-row doubles are exact to micros); the slope is the exact-sum
    OLS of ``functions/exact.py``. Zero-variance buckets
    (single point, or all points at one timestamp) emit NULL rather
    than an IEEE infinity.
    """
    trunc = TIER_INTERVALS[tier]
    v, t = F.col(value_col), F.col(ts_col)
    bucket = F.date_trunc(trunc, t)
    xs = (
        (F.unix_micros(t.cast("timestamp"))
         - F.unix_micros(bucket.cast("timestamp"))).cast("double")
        / F.lit(1_000_000.0)
    )
    d = df.where(v.isNotNull()).select(
        source_col,
        bucket.alias("bucket_ts"),
        xs.alias("_x"),
        v.alias("_y"),
    )
    agg = d.groupBy(source_col, "bucket_ts").agg(
        F.count("*").alias("n"), *ols_sums(F.col("_x"), F.col("_y")))
    num, denom = ols_slope("n")
    n = F.col("n").cast("double")
    # Variance floor, not just != 0: for an (near-)zero-x-variance
    # bucket the denominator is PURE 1e-9-quantization residue (round
    # (x*x,9) vs round(x,9)^2), and num/denom amplifies engine-level
    # ulp rounding differences into garbage slopes — caught live on
    # n=1 buckets at sf0.01. denom = n^2*Var(x); requiring
    # Var(x) > 1e-5 s^2 (x-spread beyond ~3ms) keeps every real bucket
    # and NULLs exactly the degenerate ones.
    return agg.select(
        source_col, "bucket_ts", "n",
        F.when(denom > n * n * F.lit(1e-5),
               F.round(num / denom, 6)).alias("slope_per_sec"),
    )


def ltob_downsample(
    df: DataFrame,
    width: str = "15 minutes",
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Largest-Triangle-One-Bucket downsampling (Steinarsson 2013, the
    public LTTB thesis, ch. 4.2): per (source, tumbling ``width``
    bucket) keep the single point forming the largest triangle with its
    immediate raw neighbors — the *shape-preserving* one-point-per-pixel
    companion to M4's four-champion buckets (M4 is error-free for line
    rasterization; LTOB reads better at one point per pixel and is the
    standard choice when the renderer interpolates). LTOB, not LTTB,
    deliberately: LTTB's triangle anchors on the PREVIOUSLY SELECTED
    point, a sequential dependency that cannot distribute; LTOB's
    anchors are the raw neighbors, so every point scores independently
    — the thesis's own parallel-friendly variant.

    Plan shape: ONE Exchange. The neighbor lag/lead window partitions
    on source; the per-bucket argmax window partitions on (source,
    bucket) — hash(source) already clusters that, so Spark inserts only
    a sort, no second shuffle. Endpoint rows (no neighbor) have NULL
    area and rank last (explicit NULLS LAST both engines — Spark and
    DuckDB disagree on default NULL order), so they are kept only when
    alone in their bucket.

    Determinism: the doubled triangle area is one fixed IEEE expression
    over epoch-micros deltas and raw values (micros fit double's 53-bit
    mantissa; the deltas are small); ties — exact, e.g. every area 0 on
    a flat series — break by earliest ts. Unique ts per source assumed
    (validate_series parity).
    """
    v, t = F.col(value_col), F.col(ts_col)
    d = df.where(v.isNotNull()).select(
        source_col, t.alias(ts_col), v.alias(value_col),
        F.unix_micros(t.cast("timestamp")).cast("double").alias("_x"),
    )
    wn = Window.partitionBy(source_col).orderBy(ts_col)
    d = d.select(
        source_col, ts_col, value_col, "_x",
        F.lag("_x").over(wn).alias("_xp"),
        F.lag(value_col).over(wn).alias("_yp"),
        F.lead("_x").over(wn).alias("_xn"),
        F.lead(value_col).over(wn).alias("_yn"),
    )
    area2 = F.abs(
        (F.col("_xp") - F.col("_xn")) * (v - F.col("_yp"))
        - (F.col("_xp") - F.col("_x")) * (F.col("_yn") - F.col("_yp"))
    )
    d = d.withColumn("_a2", area2).withColumn(
        "_bucket", F.window(t, width)["start"])
    rk = F.row_number().over(
        Window.partitionBy(source_col, "_bucket")
        .orderBy(F.col("_a2").desc_nulls_last(), t.asc())
    )
    return (
        d.withColumn("_rk", rk)
        .where(F.col("_rk") == 1)
        .select(source_col, ts_col, value_col)
    )


# N(0,1) quantile breakpoints for SAX alphabets (Lin et al. 2003,
# table 3): alphabet a -> a-1 cut points splitting the standard normal
# into a equiprobable regions. Shortest-repr literals so a SQL replay
# with the same constants is bit-identical.
SAX_BREAKPOINTS = {
    2: [0.0],
    3: [-0.4307, 0.4307],
    4: [-0.6745, 0.0, 0.6745],
    5: [-0.8416, -0.2533, 0.2533, 0.8416],
    6: [-0.9674, -0.4307, 0.0, 0.4307, 0.9674],
    7: [-1.0676, -0.5659, -0.18, 0.18, 0.5659, 1.0676],
    8: [-1.1503, -0.6745, -0.3186, 0.0, 0.3186, 0.6745, 1.1503],
}


def sax_downsample(
    tier_df: DataFrame,
    segment_secs: int = 480,
    alphabet: int = 4,
    *,
    source_col: str = "source",
    ts_col: str = "bucket_ts",
    value_col: str = "mean",
) -> DataFrame:
    """SAX symbolic downsampling (Lin et al., "A Symbolic Representation
    of Time Series", DMKD 2003) over a tier's mean series: per source,
    z-normalize against the source's own mean/std, PAA-average each
    tumbling ``segment_secs`` segment, and map the normalized PAA value
    to a letter via the N(0,1) equiprobable breakpoints. The output
    word stream is the standard index for motif/discord mining and
    cheap shape search at corpus scale — the symbol table is thousands
    of times smaller than the tier it summarizes.

    Plan shape: one tiny per-source stats aggregate (broadcast back) +
    one (source, segment) groupBy — two shuffles total, both keyed on
    source so AQE can reuse the partitioning; no window, no UDF.

    Determinism at any parallelism (oracle-hash requirement): the
    per-source moments and the per-segment PAA sums are 1e-9-quantized
    DECIMAL(38,9) sums (order-independent), and every double-arithmetic
    step (mu, sigma, z) associates identically to the SQL replay.
    ``sigma = 0`` (constant source) maps z to 0.0 explicitly on both
    engines. Breakpoint comparison on the unrounded z is engine-stable
    because both engines compute the identical double.
    """
    if alphabet not in SAX_BREAKPOINTS:
        raise ValueError(f"alphabet must be in {sorted(SAX_BREAKPOINTS)}")
    bps = SAX_BREAKPOINTS[alphabet]
    v = F.col(value_col)
    stats = tier_df.groupBy(source_col).agg(
        exact_sum(v).alias("_s1"),
        exact_sum(v * v).alias("_s2"),
        F.count(v).alias("_n"),
    ).select(
        source_col,
        (F.col("_s1") / F.col("_n")).alias("_mu"),
        F.sqrt(F.greatest(
            (F.col("_s2") - (F.col("_s1") / F.col("_n")) * F.col("_s1"))
            / F.col("_n"), F.lit(0.0))).alias("_sigma"),
    )
    # integer epoch modulo, NOT divide-then-cast: Spark's double->long
    # cast truncates but DuckDB's rounds, so a /-based replay would
    # disagree on segment boundaries
    _e = F.unix_timestamp(F.col(ts_col)).cast("long")
    seg_ts = F.timestamp_seconds(_e - (_e % segment_secs))
    paa = (
        tier_df.groupBy(source_col, seg_ts.alias("seg_ts"))
        .agg(exact_sum(v).alias("_ps"),
             F.count(v).alias("n_buckets"))
        .withColumn("paa", F.col("_ps") / F.col("n_buckets"))
    )
    j = paa.join(F.broadcast(stats), source_col)
    z = F.when(F.col("_sigma") == 0.0, F.lit(0.0)).otherwise(
        (F.col("paa") - F.col("_mu")) / F.col("_sigma"))
    sym = F.lit(chr(ord("a") + len(bps)))
    for i in range(len(bps) - 1, -1, -1):
        sym = F.when(z < F.lit(bps[i]), F.lit(chr(ord("a") + i))).otherwise(sym)
    return j.select(
        source_col, "seg_ts", "n_buckets",
        F.round("paa", 6).alias("paa"),
        F.round(z, 6).alias("z"),
        sym.alias("symbol"),
    )


def sax_words(
    sax: DataFrame,
    word_secs: int = 3840,
    *,
    source_col: str = "source",
) -> DataFrame:
    """Roll ``sax_downsample`` letters up into fixed-width WORDS — the
    unit a motif/discord index actually stores (one word per source per
    ``word_secs`` window, e.g. 8 letters x 480 s segments = one 64-min
    word). Letters concatenate in segment order via a sorted struct
    array, so the word is deterministic at any parallelism; one
    algebraic groupBy on (source, word window).
    """
    _e = F.unix_timestamp(F.col("seg_ts")).cast("long")
    word_ts = F.timestamp_seconds(_e - (_e % word_secs))
    return (
        sax.groupBy(source_col, word_ts.alias("word_ts"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct(F.col("seg_ts").alias("t"),
                                 F.col("symbol").alias("s")))),
                    lambda x: x["s"],
                ), "",
            ).alias("word"),
            F.count("*").alias("n_segments"),
        )
    )


def sax_motifs(
    words: DataFrame,
    min_count: int = 2,
    *,
    source_col: str = "source",
) -> DataFrame:
    """Motif discovery over [[sax_words]] output (Lin et al. DMKD'03's
    motif application): per source, the SAX words that RECUR — a word
    appearing k times marks k windows whose normalized shape repeats,
    the cheap first pass before any expensive exact-distance motif
    verification. Emits occurrence counts, the first/last window, and
    a per-source rank by frequency.

    Plan shape: one (source, word) groupBy over the words relation +
    one source-partitioned rank window. Everything is integers,
    strings, and timestamp minima/maxima — nothing to quantize;
    ranking ties break by word ascending.
    """
    g = (
        words.groupBy(source_col, "word")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.min("word_ts").alias("first_ts"),
            F.max("word_ts").alias("last_ts"),
        )
        .where(F.col("n_occurrences") >= min_count)
    )
    rk = F.row_number().over(
        Window.partitionBy(source_col)
        .orderBy(F.col("n_occurrences").desc(), F.col("word").asc())
    )
    return g.withColumn("rank", rk)


def salt_partials(
    df: DataFrame,
    tier: str = "1m",
    n_salts: int = 16,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Two-phase salted rollup for pathologically hot (source, bucket)
    keys: phase 1 aggregates (source, bucket, salt) partials, phase 2
    merges. Only algebraic stats (no exact quantile) — use when a single
    bucket can exceed a task's memory; otherwise prefer rollup_raw.
    """
    v = F.col(value_col)
    salt = F.pmod(F.xxhash64(F.col(ts_col)), F.lit(n_salts))
    partial = df.groupBy(
        source_col, tier_bucket(F.col(ts_col), tier), salt.alias("_salt"),
    ).agg(*tier_stats(v))
    return (
        partial.groupBy(source_col, "bucket_ts")
        .agg(*tier_stats())
        .select("*", tier_mean())
    )


def retention_filter(
    tier_df: DataFrame, keep_after, *, ts_col: str = "bucket_ts"
) -> DataFrame:
    """Retention enforcement: drop buckets older than the policy cutoff.
    On a partitioned tier table this prunes whole partitions (the
    companion TierCatalog partitions by date(bucket_ts))."""
    return tier_df.where(F.col(ts_col) >= F.lit(keep_after))


def ks_timeline(
    df: DataFrame,
    tier: str = "1d",
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    round_to: int | None = None,
) -> DataFrame:
    """KS drift TIMELINE: each tier bucket's value distribution scored
    against the source's previous OBSERVED bucket with the two-sample
    Kolmogorov-Smirnov statistic — the edge-free companion to
    [[psi_timeline]] exactly as [[ks_drift]] is to [[psi_drift]]: PSI's
    fixed edges give per-bin attribution but saturate on unseen mass;
    the KS series alarms on ANY shape change day over day. The first
    bucket per source emits NULL ks; ``prev_bucket_ts`` exposes ingest
    gaps (the pair is consecutive-OBSERVED, not calendar-adjacent).

    Plan shape: one (source, bucket, value) count shuffle; each
    bucket's counts then serve two roles — "cur" of its own pair and
    "ref" of the source's NEXT observed bucket (a broadcast of the
    tiny distinct-bucket lead map, then a 2x role union) — one
    (source, pair, value) re-aggregation, then ``distribution_compare``
    by (source, pair) on that same partitioning. No per-pair data
    re-scan: raw rows are touched once. Same integer KS device and
    ``round_to`` caveat as ks_drift.
    """
    v = F.col(value_col)
    if round_to is not None:
        v = F.round(v, round_to)
    per = (
        df.where(v.isNotNull())
        .groupBy(source_col,
                 tier_bucket(F.col(ts_col), tier),
                 v.alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
        # lazy lineage cut: per feeds the bucket-lead map AND both
        # union roles — without it the raw scan + count re-runs three
        # times (6 FileScans measured; 2 after the cut)
        .localCheckpoint(eager=False)
    )
    wsrc = Window.partitionBy(source_col).orderBy("bucket_ts")
    nxt = (per.select(source_col, "bucket_ts").distinct()
           .withColumn("_next", F.lead("bucket_ts").over(wsrc)))
    cur = per.select(source_col, F.col("bucket_ts").alias("pair_ts"),
                     F.lit(None).cast("timestamp").alias("prev_bucket_ts"),
                     "k", F.lit(0).alias("cref"), F.col("c").alias("ccur"))
    ref = (per.join(F.broadcast(nxt), [source_col, "bucket_ts"])
           .where(F.col("_next").isNotNull())
           .select(source_col, F.col("_next").alias("pair_ts"),
                   F.col("bucket_ts").alias("prev_bucket_ts"),
                   "k", F.col("c").alias("cref"), F.lit(0).alias("ccur")))
    u = (cur.unionByName(ref)
         .groupBy(source_col, "pair_ts", "k")
         .agg(F.sum("cref").alias("cref"), F.sum("ccur").alias("ccur"),
              F.max("prev_bucket_ts").alias("prev_bucket_ts")))
    scored = distribution_compare(
        u, "ks", [source_col, "pair_ts"],
        extra=(F.max("prev_bucket_ts").alias("prev_bucket_ts"),))
    return scored.select(
        source_col, F.col("pair_ts").alias("bucket_ts"), "prev_bucket_ts",
        F.col("n_ref").alias("n_prev"), "n_cur", "ks")


def weekday_profile(
    df: DataFrame,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Hour-of-week seasonal fingerprint per source: mean and count of
    every (day-of-week, hour-of-day) cell — the 168-slot profile a
    capacity planner reads and the seasonal detectors consume as a
    baseline ([[seasonal_ad]] fits a phase profile internally; this
    exposes the same shape as a QUERYABLE table, joinable back onto
    live traffic as "expected value for this slot"). Calendar slots
    come from the session-timezone calendar (UTC by the engine's
    contract).

    Plan shape: ONE groupBy on (source, dow, hour) — bounded keys
    (168 x sources), map-side combined; the cheapest possible full-scan
    aggregation shape.

    Determinism: DECIMAL(38,9) value sums with one IEEE division —
    hash-equal to the SQL replay at any parallelism.
    """
    v = F.col(value_col)
    t = F.col(ts_col).cast("timestamp")
    return (
        df.where(v.isNotNull())
        .groupBy(source_col,
                 F.dayofweek(t).alias("dow"),
                 F.hour(t).alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"),
             exact_sum(v, quantize=False).alias("_s"))
        .select(source_col, "dow", "hour", "n",
                F.round(F.col("_s") / F.col("n").cast("double"), 6)
                .alias("mean_value"))
    )
