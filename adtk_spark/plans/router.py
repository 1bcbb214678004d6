"""Tier routing: answer a resolution query from the coarsest tier that
can serve it, never from raw.

The reference has no storage layer; this is the continuous-aggregate
engine's query-time half (TimescaleDB's real-time aggregate planner /
Grafana's auto-downsample): a request "give me R-second buckets over
[start, end)" is served by re-merging the coarsest materialized tier
whose bucket width divides R, with the same per-family merge that
builds a coarser tier (``tiers.merge_tier``; the tier's columns name
its family):

- stats: (cnt, min, max, sum, mean) merge exactly (sum of sums, min of
  mins, count of counts; mean = vsum/cnt), so the routed answer is
  point-identical to aggregating raw, at a fraction of the scan cost
  (contract query ``tier_route_2h`` proves the identity against a
  raw-side DuckDB oracle);
- sketch: the same stats plus re-merged t-digests, whose ``vq``
  estimates the raw distribution's quantile per window;
- TWA: the integer weight micros and DECIMAL value-seconds regroup
  exactly (contract query ``twa_route_3h``).

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

from .tiers import merge_tier, tier_family, tier_mean, tier_stats

#: seconds per bucket of each materialized tier
TIER_WIDTH_SECS = {"1m": 60, "1h": 3600, "1d": 86400}

_ALGEBRAIC = ("cnt", "vmin", "vmax", "vsum")
#: the routed output of a TWA tier (its carried sums stay behind)
_TWA = ("covered_secs", "twa")


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
    qualifying tier in ``tiers`` (``pick_tier``), in the family the
    tiers carry (``tiers.tier_family``):

    - stats (``build_tiers`` / TierCatalog reads): source, bucket_ts,
      cnt, vmin, vmax, vsum, mean; ``quantile`` (if set) adds ``vq``,
      the exact type-7 quantile of the serving tier's ``mean`` points
      per output window — the same per-tier series semantics as
      ``rollup_up``.
    - sketch (``rollup_raw_sketch`` chains): the stats plus the
      re-merged ``vdigest`` and its ``vq``, which estimates the RAW
      distribution's ``quantile`` (0.5 when None) per window, rank
      error O(1/delta).
    - TWA (``rollup_twa`` chains): source, bucket_ts, covered_secs,
      twa. A mean of hourly TWAs would weight a 1-point hour like a
      3600-point hour; the carried weight micros and value-seconds
      re-associate exactly instead, so a routed window equals
      ``rollup_twa`` at that width wherever window boundaries align with
      the finer tier's segment cuts.

    Raises KeyError when no tier divides R (the caller should then
    aggregate raw via ``rollup_at``, ``rollup_twa`` or
    ``rollup_raw_sketch`` — routing exists precisely to avoid that scan,
    so it is an explicit decision, not a silent fallback).
    """
    name = pick_tier(resolution_secs, available, start=start)
    if name is None or name not in tiers:
        raise KeyError(
            f"no materialized tier divides resolution={resolution_secs}s "
            f"(have {sorted(tiers)}); aggregate from raw explicitly")
    t = tiers[name]
    return _merge_routed(_in_range(t, "bucket_ts", start, end), name,
                         resolution_secs, quantile, tier_family(t.columns),
                         source_col)


def _merge_routed(t: DataFrame, name: str, resolution_secs: int, quantile,
                  family: str, source_col: str) -> DataFrame:
    """Rows ``t`` of tier ``name`` (of ``family``) merged to
    ``resolution_secs`` windows (``tiers.merge_tier``)."""
    if TIER_WIDTH_SECS[name] == resolution_secs:
        # exact-width fast path: filter + project, no shuffle
        if family == "twa":
            return t.select(source_col, "bucket_ts", *_TWA)
        if family == "stats" and quantile is None:
            return t.select(source_col, "bucket_ts", *_ALGEBRAIC, "mean")
    out = merge_tier(t, _epoch_bucket("bucket_ts", resolution_secs), quantile,
                     family=family, source_col=source_col)
    return out.select(source_col, "bucket_ts", *_TWA) if family == "twa" else out


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
    range read, or on the bucketed view. The bounded tier is then merged
    as ``route_rollup`` merges it, in the family the manifest's recorded
    columns name; ``quantile`` as there. Raises ValueError unless
    ``resolution_secs`` is a positive int."""
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
    # the family from the manifest's recorded schema: no JVM round trip
    family = tier_family(catalog.columns(spark, tables[name]))
    return _merge_routed(df, name, resolution_secs, quantile, family,
                         source_col)
