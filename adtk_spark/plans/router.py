"""Tier routing: answer a resolution query from the coarsest tier that
can serve it, never from raw.

The reference has no storage layer; this is the continuous-aggregate
engine's query-time half (TimescaleDB's real-time aggregate planner /
Grafana's auto-downsample): a request "give me R-second buckets of
(cnt, min, max, sum, mean) over [start, end)" is served by re-merging
the coarsest materialized tier whose bucket width divides R — the
algebraic stats merge exactly (sum of sums, min of mins, count of
counts; mean = vsum/cnt), so the routed answer is point-identical to
aggregating raw, at a fraction of the scan cost (contract query
``tier_route_2h`` proves the identity against a raw-side DuckDB oracle).

Scale notes:
- The time-range predicate lands on ``bucket_ts`` BEFORE the re-agg, so
  on a TierCatalog layout (hive-partitioned by date(bucket_ts)) it
  prunes whole partitions; the shuffle that follows sees only tier rows
  in range — already width/point_interval× smaller than raw.
- Output cardinality = sources × range/R; groupBy keys are
  (source, window start), same bounded-per-key shape as rollup_up.
- When R equals the tier width the route is a pure filter+project (no
  shuffle at all) — the common dashboard case of asking a tier for
  itself.
- All tier widths here divide into each other and into the UTC epoch
  grid (session timezone is pinned UTC in session.py), so floor-epoch
  windows align exactly with date_trunc tier buckets.
"""

from __future__ import annotations

import numbers

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.windows import exact_quantile_agg
from .tiers import tier_mean, tier_stats, with_digest

#: seconds per bucket of each materialized tier
TIER_WIDTH_SECS = {"1m": 60, "1h": 3600, "1d": 86400}

_ALGEBRAIC = ("cnt", "vmin", "vmax", "vsum")


def _check_resolution(resolution_secs) -> None:
    """ValueError unless ``resolution_secs`` is a positive int (a bool
    is not one): a zero or negative width would group by
    ``pmod(epoch, R)`` and return wrong buckets without an error."""
    if (isinstance(resolution_secs, bool)
            or not isinstance(resolution_secs, numbers.Integral)
            or resolution_secs <= 0):
        raise ValueError(
            f"resolution_secs must be a positive int, got {resolution_secs!r}")


def pick_tier(
    resolution_secs: int,
    available: dict | None = None,
    *,
    start=None,
) -> str | None:
    """The coarsest tier whose width divides ``resolution_secs``.

    ``available`` optionally maps tier name -> earliest covered
    ``bucket_ts`` (a retention ledger, e.g. from TierCatalog); a tier
    whose coverage starts after ``start`` is skipped, so a query into
    history that retention has already evicted from the fine tiers
    routes to a coarser one that still holds it. A query with NO
    ``start`` bound asks for all history, so any tier with a retention
    cutoff is skipped too — routing it to a vacuumed tier would
    silently truncate the answer at the cutoff, the exact wrong answer
    the ledger exists to prevent. Returns None when no tier qualifies
    (caller falls back to raw). Raises ValueError unless
    ``resolution_secs`` is a positive int."""
    _check_resolution(resolution_secs)
    names = TIER_WIDTH_SECS if available is None else available
    best, best_w = None, 0
    for name in names:
        w = TIER_WIDTH_SECS[name]
        if resolution_secs % w:
            continue
        if (available is not None and available[name] is not None
                and (start is None or available[name] > start)):
            continue
        if w > best_w:
            best, best_w = name, w
    return best


def _in_range(df: DataFrame, col: str, start, end) -> DataFrame:
    """Rows of ``df`` with ``col`` in ``[start, end)`` (open bounds: None)."""
    if start is not None:
        df = df.where(F.col(col) >= F.lit(start))
    if end is not None:
        df = df.where(F.col(col) < F.lit(end))
    return df


def _serving_tier(tiers: dict[str, DataFrame], resolution_secs: int,
                  start, end, available, kind: str,
                  fallback: str) -> tuple[str, DataFrame]:
    """The tier ``pick_tier`` chooses from ``tiers`` and its rows in
    ``[start, end)``; KeyError naming ``fallback`` when none qualifies."""
    name = pick_tier(resolution_secs, available, start=start)
    if name is None or name not in tiers:
        raise KeyError(
            f"no materialized {kind}tier divides resolution="
            f"{resolution_secs}s (have {sorted(tiers)}); {fallback}")
    return name, _in_range(tiers[name], "bucket_ts", start, end)


def _epoch_bucket(ts_col: str, resolution_secs: int) -> Column:
    """``bucket_ts`` of the floor-epoch ``resolution_secs`` window."""
    epoch = F.unix_timestamp(F.col(ts_col)).cast("long")
    return F.timestamp_seconds(
        epoch - F.pmod(epoch, F.lit(resolution_secs))).alias("bucket_ts")


def route_rollup(
    tiers: dict[str, DataFrame],
    resolution_secs: int,
    start=None,
    end=None,
    quantile: float | None = None,
    *,
    source_col: str = "source",
    available: dict | None = None,
) -> DataFrame:
    """Serve an R-second rollup over [start, end) from the coarsest
    qualifying tier in ``tiers`` (as built by ``build_tiers`` /
    TierCatalog reads: columns source, bucket_ts, cnt, vmin, vmax,
    vsum, mean).

    ``quantile`` (if set) adds ``vq`` = exact type-7 quantile of the
    serving tier's ``mean`` points per output window — the same
    per-tier series semantics as ``rollup_up``. Raises KeyError when no
    tier divides R (the caller should then aggregate raw via
    ``rollup_at`` — routing exists precisely to avoid that scan, so it
    is an explicit decision, not a silent fallback).
    """
    name, t = _serving_tier(tiers, resolution_secs, start, end, available,
                            "", "aggregate from raw explicitly")
    if TIER_WIDTH_SECS[name] == resolution_secs and quantile is None:
        # exact-width fast path: filter + project, no shuffle
        return t.select(source_col, "bucket_ts", *_ALGEBRAIC, "mean")

    aggs = tier_stats()
    if quantile is not None:
        aggs.append(exact_quantile_agg(F.col("mean"), quantile).alias("vq"))
    return (t.groupBy(source_col, _epoch_bucket("bucket_ts", resolution_secs))
            .agg(*aggs).select("*", tier_mean()))


def route_twa(
    tiers: dict[str, DataFrame],
    resolution_secs: int,
    start=None,
    end=None,
    *,
    source_col: str = "source",
    available: dict | None = None,
) -> DataFrame:
    """Serve an R-second TIME-WEIGHTED average over [start, end) from
    the coarsest qualifying carry-sums TWA tier
    (``rollup_twa(..., carry_sums=True)``: columns source, bucket_ts,
    _w_us, _vw, covered_secs, twa).

    Plain arithmetic means re-merge through ``route_rollup``; TWA can't
    (a mean of hourly TWAs weights a 1-point hour like a 3600-point
    hour). The carried integer weight-micros and DECIMAL value-seconds
    partials re-associate EXACTLY, so a routed window equals
    ``rollup_twa`` run at that width wherever window boundaries align
    with the finer tier's segment cuts — the same contract as
    ``rollup_twa_up``, at query time and at any dividing resolution
    (fixed-width epoch windows: R is a query resolution, not a calendar
    retention tier). One tier-row groupBy; raw points never re-read.
    Same retention-ledger semantics as ``pick_tier``; raises KeyError
    when no tier divides R.
    """
    name, t = _serving_tier(tiers, resolution_secs, start, end, available,
                            "TWA ", "run rollup_twa on raw explicitly")
    if TIER_WIDTH_SECS[name] == resolution_secs:
        # exact-width fast path: filter + project, no shuffle
        return t.select(source_col, "bucket_ts", "covered_secs", "twa")
    g = t.groupBy(source_col, _epoch_bucket("bucket_ts", resolution_secs)).agg(
        F.sum("_w_us").alias("_w_us"), F.sum("_vw").alias("_vw"))
    return g.select(
        source_col, "bucket_ts",
        F.round(F.col("_w_us").cast("double") / 1000000.0, 6)
        .alias("covered_secs"),
        F.round(
            F.col("_vw").cast("double")
            / (F.col("_w_us").cast("double") / 1000000.0), 6,
        ).alias("twa"),
    )


def rollup_at(
    raw: DataFrame,
    resolution_secs: int,
    start=None,
    end=None,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """The explicit raw fallback for resolutions no tier divides
    (e.g. 90 s): floor-epoch tumbling rollup straight off the raw
    series, same output schema as ``route_rollup``. This is the scan
    routing exists to avoid — callers reach it deliberately via
    ``pick_tier(...) is None``, never as a silent downgrade. Raises
    ValueError unless ``resolution_secs`` is a positive int."""
    _check_resolution(resolution_secs)
    return (
        _in_range(raw, ts_col, start, end)
        .groupBy(source_col, _epoch_bucket(ts_col, resolution_secs))
        .agg(*tier_stats(F.col(value_col)))
        .select("*", tier_mean())
    )


def route_rollup_sketch(
    tiers: dict[str, DataFrame],
    resolution_secs: int,
    start=None,
    end=None,
    quantile: float = 0.5,
    delta: int = 200,
    *,
    source_col: str = "source",
    available: dict | None = None,
) -> DataFrame:
    """Route over SKETCH-carrying tiers (``rollup_raw_sketch`` /
    ``rollup_up_sketch`` output): algebraic stats merge exactly and the
    per-window ``vq`` re-merges the serving tier's t-digests, so the
    routed answer estimates the RAW value distribution's quantile at
    the requested resolution (rank error O(1/delta)) — without the
    coarser-tier caveat of quantile-of-means, and still never touching
    raw. Same tier-choice rule as ``route_rollup``."""
    from ..functions.sketch import merge_digests

    _, t = _serving_tier(tiers, resolution_secs, start, end, available,
                         "sketch ", "use rollup_raw_sketch on raw")
    agged = t.groupBy(source_col, _epoch_bucket("bucket_ts", resolution_secs)).agg(
        *tier_stats(), F.collect_list("vdigest").alias("_parts"))
    return with_digest(agged, merge_digests(F.col("_parts"), delta), quantile)


def route_from_catalog(
    spark,
    catalog,
    tables: dict[str, str],
    resolution_secs: int,
    start=None,
    end=None,
    quantile: float | None = None,
    *,
    source_col: str = "source",
) -> DataFrame:
    """Route against STORED tiers: ``tables`` maps tier name ("1m", …)
    to its TierCatalog table. The catalog's retention ledger
    (``set_retention``/``get_retention``) is the availability map, so a
    query whose ``start`` predates a fine tier's vacuum cutoff routes to
    a coarser tier that still holds that history. Only the chosen
    tier's table is read (one scan; with a day-partitioned commit the
    [start, end) predicate prunes its partitions); prefers the
    read-optimized bucketed view when one exists.

    The ``[start, end)`` predicate is applied once: by the catalog's
    range read, or on the bucketed view. The bounded tier then goes to
    ``route_rollup`` with no bounds and no retention cutoff, as both
    were checked here. Raises ValueError unless ``resolution_secs`` is
    a positive int."""
    available = {t: catalog.get_retention(tbl) for t, tbl in tables.items()}
    name = pick_tier(resolution_secs, available, start=start)
    if name is None:
        raise KeyError(
            f"no stored tier both divides resolution={resolution_secs}s and "
            f"covers start={start} (retention: {available}); aggregate from "
            f"raw explicitly")
    from .incremental import read_tier_latest

    # the bucketed compaction is a latest-wins materialization *as of*
    # one snapshot — only serve it while it is still current, else fall
    # back to the snapshot union (correctness beats the saved Exchange)
    df = None
    as_of = catalog.bucketed_as_of(tables[name])
    if as_of is not None and as_of == catalog.last_snapshot(tables[name]):
        df = catalog.read_bucketed(spark, tables[name])
    if df is not None:
        df = _in_range(df, "bucket_ts", start, end)
    else:
        # snapshot-union path: a time-bounded query activates the
        # manifest zone maps, so out-of-range snapshot dirs are pruned
        # on the driver before the scan is even planned
        df = read_tier_latest(catalog, spark, tables[name], start, end)
    if df is None:
        raise KeyError(f"tier table {tables[name]!r} has no committed snapshots")
    return route_rollup({name: df}, resolution_secs, quantile=quantile,
                        source_col=source_col, available={name: None})
