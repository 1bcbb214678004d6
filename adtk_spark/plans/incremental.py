"""Incremental tier refresh with snapshot watermarks (checkpoint/resume).

Batch analogue of a continuous aggregate: each run reads only raw
snapshots committed after the last processed watermark, finds the
(source, bucket) windows they touch, recomputes exactly those buckets
from the full raw history (exact — percentile is not mergeable), and
commits the restated buckets as a new snapshot of each tier table. A
killed job restarts from the manifest watermark and reprocesses only
uncommitted work; committed snapshots are never rewritten.

Readers use ``read_tier_latest`` to resolve bucket restatements: the
highest snapshot id wins per (source, bucket) — Iceberg's
MERGE-on-read semantics expressed as a window dedup.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .tiers import TIER_INTERVALS, rollup_raw, rollup_up, tier_bucket

RAW_TABLE = "raw"
WATERMARK_KEY = "tiers_from_raw"


def commit_with_lineage(catalog, df: DataFrame, table: str,
                        meta: dict | None = None) -> int:
    """Commit one tier snapshot. ``TierCatalog.commit`` records the
    snapshot's lineage (rows, sources, time range, commit time) in its
    manifest entry during the write; this name stays as the tier-commit
    step that ``perfbench/spans.py`` traces."""
    return catalog.commit(df, table, meta)


def read_tier_latest(
    catalog, spark: SparkSession, table: str, start=None, end=None,
) -> DataFrame | None:
    """Committed tier rows with restated buckets resolved to the newest
    snapshot (latest-wins per (source, bucket)).

    ``start``/``end`` bound ``bucket_ts`` and activate the catalog's
    manifest zone maps (``TierCatalog.read_range``): snapshot dirs that
    cannot intersect the range are skipped on the driver before any
    file is touched. Latest-wins stays correct under pruning because a
    snapshot restating an in-range bucket necessarily has that bucket
    inside its own min/max stats, so it is never skipped."""
    if start is not None or end is not None:
        df = catalog.read_range(spark, table, start, end)
    else:
        df = catalog.read(spark, table)
    if df is None:
        return None
    w = Window.partitionBy("source", "bucket_ts").orderBy(F.desc("snap"))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "snap")
    )


def compact_tier(catalog, spark: SparkSession, table: str) -> int | None:
    """Rewrite a tier's live snapshots into ONE compacted snapshot
    (Iceberg rewrite_data_files): materializes the latest-wins state and
    commits it, then marks the inputs superseded so every later read
    unions a single directory instead of one-per-epoch.

    Why it matters at scale: the streaming sink commits a snapshot per
    drained epoch, so an always-on ingest accumulates thousands of tiny
    snapshot dirs — the latest-wins window then pays a wider union scan
    and the row_number dedup sees ever more restatement candidates.
    Periodic compaction bounds both at one snapshot; the zone-map stats
    of the compacted snapshot are recorded by ``commit`` as usual, and
    old files stay on disk for in-flight readers until
    ``catalog.vacuum(table)``.

    Intended for TIER tables (restatement resolved by latest-wins).
    Compacting the raw table works but moves all rows above any
    ``read_since`` watermark, forcing a (restatement-safe) full
    re-rollup — prefer leaving raw append-only.
    """
    ids = catalog.snapshots(table)
    if len(ids) <= 1:
        return None
    latest = read_tier_latest(catalog, spark, table)
    new_id = catalog.commit(latest, table, {"compaction_of": ids})
    catalog.mark_superseded(table, ids)
    return new_id


def refresh_tiers(
    catalog,
    spark: SparkSession,
    quantile: float = 0.5,
    *,
    series_of=None,
    sketch: bool = False,
    delta: int = 200,
) -> dict:
    """Roll every unprocessed raw snapshot into the 1m/1h/1d tiers.

    ``series_of``: optional fn(DataFrame) -> (source, ts, value) long
    series; defaults to the token-corpus n_tok series.

    ``sketch=True`` switches to the t-digest-carrying rollups
    (plans/tiers.py rollup_raw_sketch / rollup_up_sketch): every tier
    row then stores a mergeable digest and ``vq`` estimates the RAW
    distribution's quantile, while restatement/watermark semantics are
    identical — restated buckets rebuild their digests from the scoped
    raw windows, so incremental refresh never degrades sketch accuracy.
    """
    from ..sources.tokens import token_series

    # no-op fast path BEFORE the mode guards: with nothing to process
    # the sketch/no-sketch flag is irrelevant, and raising here would
    # make a sketch-flavored catalog (e.g. one fed by --stream-sketch
    # ingest) reject every later maintenance run that omits --sketch
    wm = catalog.get_watermark(WATERMARK_KEY)
    last = catalog.last_snapshot(RAW_TABLE)
    if last is None or last <= wm:
        return {"processed": 0, "watermark": wm}

    # flavor sniff for the mode guards below: the columns of the newest
    # live tier_1m snapshot, from the manifest's recorded schema (no
    # job; an unrecorded one is inferred from that one snap= dir, never
    # from a union of every live snapshot, which under always-on
    # streaming ingest grows with snapshot count per refresh). The
    # guards themselves keep flavors uniform across snapshots, so the
    # newest snapshot's columns speak for all of them.
    existing = catalog.columns(spark, "tier_1m")

    # keep tier flavors uniform: a sketch refresh over sketchless
    # history would feed NULL digests to the merge UDF (or silently drop
    # that history from the quantile estimate), and a sketchless refresh
    # over digest history would leave the tier directories with mixed
    # schemas and nondeterministic reads. Either way: restate first.
    if existing is not None and ("vdigest" in existing) != sketch:
        found = "have no vdigest" if sketch else "carry a vdigest"
        raise ValueError(
            f"sketch={sketch} on a catalog whose existing tier snapshots "
            f"{found} column: restate the tiers first (new catalog root, "
            "or reset the watermark and re-rollup) — mixing tier flavors "
            "would corrupt the quantile estimates or the reads"
        )
    if sketch:
        from .tiers import rollup_raw_sketch, rollup_up_sketch

        r_raw = partial(rollup_raw_sketch, delta=delta)
        r_up = partial(rollup_up_sketch, delta=delta)
    else:
        # module globals, looked up per call: tracers wrap these names
        r_raw, r_up = rollup_raw, rollup_up

    series_of = series_of or token_series
    new_raw = catalog.read_since(spark, RAW_TABLE, wm).drop("snap")
    all_raw = catalog.read(spark, RAW_TABLE).drop("snap")
    new_series = series_of(new_raw)
    full_series = series_of(all_raw)

    # affected 1m buckets: only windows the new snapshots touch
    touched = new_series.select("source", tier_bucket(F.col("ts"), "1m")).distinct()
    scoped = full_series.alias("s").join(
        F.broadcast(touched.alias("t")),
        on=(
            (F.col("s.source") == F.col("t.source"))
            & (F.date_trunc("minute", F.col("s.ts")) == F.col("t.bucket_ts"))
        ),
        how="leftsemi",
    )

    stats = {}
    t1m = r_raw(scoped, "1m", quantile)
    snap_1m = commit_with_lineage(catalog, t1m, "tier_1m",
                                  {"raw_watermark": last})
    stats["tier_1m"] = snap_1m

    # affected coarser buckets: every touched minute is a restated 1m
    # bucket, so the hours/days they fall in are exactly the coarser
    # buckets to restate; each re-aggregates the LATEST full set of
    # finer buckets it covers
    for finer, tier, table in (("tier_1m", "1h", "tier_1h"), ("tier_1h", "1d", "tier_1d")):
        trunc = TIER_INTERVALS[tier]
        affected = touched.select(
            "source", F.date_trunc(trunc, F.col("bucket_ts")).alias("_b")
        ).distinct()
        scoped_finer = read_tier_latest(catalog, spark, finer).alias("f").join(
            F.broadcast(affected.alias("a")),
            on=(
                (F.col("f.source") == F.col("a.source"))
                & (F.date_trunc(trunc, F.col("f.bucket_ts")) == F.col("a._b"))
            ),
            how="leftsemi",
        )
        out = r_up(scoped_finer, tier, quantile)
        stats[table] = commit_with_lineage(catalog, out, table,
                                           {"raw_watermark": last})

    catalog.set_watermark(WATERMARK_KEY, last)
    return {"processed": last - wm, "watermark": last, **stats}
