"""Structured Streaming variant of the 1m tier rollup.

The batch path (plans/tiers + plans/incremental) is the system of
record — adtk's centered windows need future data, and exact quantiles
are not mergeable, so detectors stay batch. This module covers the
*ingest edge*: a file stream of raw token-series rows rolled into
1-minute tumbling aggregates with a watermark for late data. Streaming
aggregates are algebraic only (count/min/max/sum -> mean); the exact
per-bucket quantile ``vq`` is emitted NULL and backfilled by the next
incremental batch refresh (the classic lambda split, stated in the tier
table docs). Both 1m streams aggregate through the batch tier algebra
(``tier_stats``, ``tier_mean``, ``with_digest``), keyed by the start of
a watermarked ``F.window`` instead of ``tier_bucket``, so streamed rows
have the batch tier's values, types and column order.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.router import TIER_WIDTH_SECS
from ..plans.tiers import (
    bin_counts,
    bin_index,
    merge_tier,
    psi_sum,
    tier_mean,
    tier_stats,
    with_digest,
)

RAW_SCHEMA = "source string, ts timestamp, value double"


def _stream_1m(spark: SparkSession, source_dir: str, watermark: str,
               *extra: Column) -> DataFrame:
    """Watermarked 1-minute ``tier_stats`` (plus ``extra`` aggregates)
    of the raw parquet stream, keyed (source, bucket_ts)."""
    stream = spark.readStream.schema(RAW_SCHEMA).parquet(source_dir)
    agged = (
        stream.withWatermark("ts", watermark)
        .groupBy("source", F.window("ts", "1 minute").alias("w"))
        .agg(*tier_stats(F.col("value")), *extra)
    )
    return agged.select("source", F.col("w.start").alias("bucket_ts"),
                        *agged.columns[2:])


def streaming_rollup_1m(
    spark: SparkSession,
    source_dir: str,
    watermark: str = "5 minutes",
) -> DataFrame:
    """readStream(parquet dir) -> watermarked 1-minute tumbling rollup,
    with the batch ``rollup_raw`` columns in order; ``vq`` is NULL."""
    return _stream_1m(spark, source_dir, watermark).select(
        "*", F.lit(None).cast("double").alias("vq"), tier_mean())


def streaming_rollup_1m_sketch(
    spark: SparkSession,
    source_dir: str,
    watermark: str = "5 minutes",
    quantile: float = 0.5,
) -> DataFrame:
    """Sketch-carrying variant of the streaming 1m rollup: each finalized
    bucket also gets a mergeable t-digest of its raw values (same
    columns, in the same order, as the batch ``rollup_raw_sketch``), so
    streamed snapshots can feed ``rollup_up`` re-aggregation and
    ``route_rollup`` raw-distribution quantile queries directly —
    the streaming ingest edge stops being a sketch-less second class.

    State cost: the only non-algebraic aggregate is the per-bucket
    ``collect_list``, whose size is bounded by points/bucket/source
    (exactly the batch path's per-task frame); the digest compress runs
    once per *finalized* bucket in the post-aggregation projection,
    never per micro-batch update."""
    from ..functions.sketch import digest_of_sorted_arr

    agged = _stream_1m(spark, source_dir, watermark,
                       F.collect_list("value").alias("_parts"))
    return with_digest(agged, digest_of_sorted_arr(F.col("_parts")), quantile)


def streaming_psi_drift(
    spark: SparkSession,
    source_dir: str,
    edges: list[float],
    reference: DataFrame,
    window: str = "1 hour",
    watermark: str = "5 minutes",
    eps: float = 1e-6,
) -> DataFrame:
    """Live distribution-drift monitor: every finalized tumbling window
    of the stream gets a per-source PSI against a FROZEN reference
    distribution (a ``plans.tiers.psi_reference`` fit — e.g. the
    training corpus's value distribution), so an upstream feed
    regression alarms within one window + watermark instead of at the
    next batch audit.

    Plan: ONE watermarked windowed aggregation with the bins unrolled
    as conditional integer sums (a single stateful operator — no
    chained streaming aggregation), then a pure projection: the tiny
    reference is collected and embedded as literal maps, never joined.
    Sources absent from the reference emit NULL psi (a streaming
    monitor cannot invent a reference; fit first, or refit to admit new
    sources).

    Parity: bin proportions, the ``(p - q) * ln(p / q)`` association,
    and the 1e-9 DECIMAL term quantization are identical to the batch
    ``psi_drift``, and the summation (a fixed-order chain of exact
    DECIMALs) equals its order-free DECIMAL sum — so a window's
    streamed psi is bit-equal to batch psi_drift run over
    reference + that window (verified in tests).
    """
    ref_rows = reference.collect()
    k = len(edges) + 1
    map_entries, n_entries = [], []
    for r in ref_rows:
        map_entries += [F.lit(r["source"]),
                        F.array(*[F.lit(float(p)) for p in r["props"]])]
        n_entries += [F.lit(r["source"]), F.lit(int(r["n_ref"]))]
    props_of = F.create_map(*map_entries)
    nref_of = F.create_map(*n_entries)

    v = F.col("value")
    stream = spark.readStream.schema(RAW_SCHEMA).parquet(source_dir)
    agged = (
        stream.where(v.isNotNull())
        .withColumn("_bin", bin_index(v, edges))
        .withWatermark("ts", watermark)
        .groupBy("source", F.window("ts", window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_cur"), *bin_counts(F.col("_bin"), k))
    )
    props = props_of[F.col("source")]
    # F.greatest skips NULLs, so a missing reference would silently
    # degrade to the eps floor — gate the whole score on a fitted ref
    psi = F.when(props.isNotNull(), psi_sum(
        [props[i] for i in range(k)],
        [F.col(f"_c{i}") / F.col("n_cur") for i in range(k)], eps))
    return agged.select(
        "source", F.col("w.start").alias("w_start"),
        nref_of[F.col("source")].alias("n_ref"), "n_cur",
        psi.alias("psi"),
    )


def run_available_now(agg: DataFrame, out_dir: str, checkpoint: str) -> None:
    """Drain everything currently in the source (availableNow trigger),
    append to parquet, then stop — the batch-boundary-friendly mode the
    incremental refresher schedules between snapshot commits."""
    q = (
        agg.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .format("parquet")
        .option("path", out_dir)
        .start()
    )
    q.awaitTermination()


def run_into_catalog(agg: DataFrame, catalog, table: str, checkpoint: str) -> None:
    """Drain the stream into the TierCatalog: each non-empty micro-batch
    of watermark-finalized 1m buckets commits ONE catalog snapshot —
    the Iceberg streaming-write contract (one snapshot per epoch), which
    makes streamed buckets immediately visible to every batch consumer
    (``read_tier_latest``, incremental refresh, the tier router) with
    no separate ingest directory to reconcile.

    Failure contract: the stream checkpoint and the catalog manifest
    are separate stores, so a crash between sink and checkpoint write
    can replay an epoch into a *second* snapshot holding the same
    buckets. That is exactly a bucket restatement: ``read_tier_latest``
    resolves (source, bucket_ts) to the newest snapshot, so replays are
    idempotent to readers — same at-least-once-commit + latest-wins-read
    pairing the batch incremental refresher uses."""
    def _commit(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        catalog.commit(batch_df, table, meta={"stream_epoch": int(epoch_id)})

    q = (
        agg.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_commit)
        .start()
    )
    q.awaitTermination()


DOC_SCHEMA = "doc_id long, ts timestamp, text string"


TWA_PARTIAL_SCHEMA = ("source string, bucket_ts timestamp, "
                      "w_us long, vw_u long")


def streaming_twa_partials(
    stream: DataFrame,
    tier: str = "1m",
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """TWA at the STREAM ingest edge: LOCF segments close as the NEXT
    observation arrives (TWA's lead() made causal by one
    (last_ts, last_value) state pair per source), split across tier
    buckets and emitted as EXACT mergeable partial rows —
    ``w_us`` integer overlap micros and ``vw_u`` the value-seconds term
    in 1e-6 units, quantized with the SAME HALF_UP-at-6 rule as
    ``rollup_twa``'s ``_vw`` (``Decimal(repr(t))`` replicates
    Spark's BigDecimal.valueOf(double) semantics bit-for-bit; probed
    over 4,300 adversarial doubles). Streamed partials therefore merge
    with batch partials exactly: ``twa_merge_partials`` over this
    output equals the batch tier wherever the same points arrived.

    Partials are append-only and duplicate-free (each segment closes
    exactly once, on the arrival of its right endpoint), so no
    watermark hold-back delays emission — a bucket's TWA is simply the
    running sum of its committed partials, and late segments ADD to the
    bucket instead of restating it. Arrival contract: in order per
    source across micro-batches (sorted within each batch); a row at or
    before the carried last point is dropped (the batch path, system of
    record, owns restatements — the tier-table lambda split).

    State: two scalars per source, O(1) forever.
    """
    import numpy as np
    import pandas as pd
    from decimal import ROUND_HALF_UP

    from pyspark.sql.streaming.state import GroupStateTimeout

    step = TIER_WIDTH_SECS[tier]
    step_us = step * 1_000_000
    q6 = Decimal("0.000001")

    def close_segments(key, pdf_iter, state):
        last_ts, last_v = state.get if state.exists else (None, None)
        for pdf in pdf_iter:
            pdf = pdf.sort_values(ts_col, kind="mergesort")
            ts_us = (pdf[ts_col].astype("int64") // 1000).to_numpy()
            vals = pdf[value_col].to_numpy(dtype=float)
            agg: dict = {}
            for t1, v1 in zip(ts_us, vals):
                if np.isnan(v1):
                    # a NULL value neither closes nor starts a segment —
                    # the batch path drops NULL rows BEFORE the lead
                    # window, so the carry runs to the next valid point
                    continue
                if last_ts is not None and t1 <= last_ts:
                    continue  # out-of-order arrival: batch owns it
                if last_ts is not None:
                    b0, b1 = last_ts // step_us, t1 // step_us
                    for b in range(b0, b1 + 1):
                        ov = min(t1, (b + 1) * step_us) - max(last_ts,
                                                              b * step_us)
                        if ov <= 0:
                            continue
                        t = last_v * (ov / 1_000_000.0)
                        vw = int(Decimal(repr(t)).quantize(
                            q6, ROUND_HALF_UP).scaleb(6))
                        w, v = agg.get(b, (0, 0))
                        agg[b] = (w + ov, v + vw)
                last_ts, last_v = int(t1), float(v1)
            if agg:
                rows = sorted(agg.items())
                yield pd.DataFrame({
                    source_col: key[0],
                    "bucket_ts": pd.to_datetime(
                        [b * step for b, _ in rows], unit="s"),
                    "w_us": [w for _, (w, _) in rows],
                    "vw_u": [v for _, (_, v) in rows],
                })
        if last_ts is not None:
            state.update((int(last_ts), float(last_v)))

    return stream.groupBy(source_col).applyInPandasWithState(
        close_segments,
        outputStructType=TWA_PARTIAL_SCHEMA,
        stateStructType="last_ts long, last_value double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def twa_merge_partials(
    partials: DataFrame, *, source_col: str = "source",
) -> DataFrame:
    """(source, bucket_ts, covered_secs, twa) from accumulated partial
    rows (streamed epochs and/or batch ``_w_us``/``_vw`` sums converted
    to 1e-6 units): ``vw_u`` becomes the tier's DECIMAL(38,6)
    ``_vw`` exactly (unscaled value ``vw_u``, no double step), and the
    rows merge per bucket with the tier merge (``merge_tier``) — exact
    sums in any order, one final division, equal to the batch
    ``rollup_twa`` output on the same points."""
    sums = partials.select(
        source_col, "bucket_ts", F.col("w_us").alias("_w_us"),
        (F.col("vw_u").cast("decimal(38,0)") * F.lit(Decimal("0.000001")))
        .cast("decimal(38,6)").alias("_vw"))
    merged = merge_tier(sums, F.col("bucket_ts"), family="twa",
                        source_col=source_col)
    return merged.select(source_col, "bucket_ts", "covered_secs", "twa")


def streaming_dedup_exact(
    spark: SparkSession,
    source_dir: str,
    watermark: str = "10 minutes",
    *,
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """Exact dedup at the STREAM ingest edge: drop any document whose
    content hash was already seen within the watermark horizon — the
    cheap first pass that keeps bulk re-posts and crawler replays from
    ever landing, while the batch ``corpus.dedup_exact`` (whole-corpus,
    md5 keep-min-id) remains the system of record — the same
    lambda split as the tier rollups (streaming handles the edge,
    batch owns restatements).

    State is BOUNDED: ``dropDuplicatesWithinWatermark`` expires each
    hash key once the watermark passes it, so state size tracks the
    ingest rate x horizon, not corpus size — an unbounded
    ``dropDuplicates`` would OOM a year-long stream. Keys are 16-byte
    md5 hashes (never raw text), same as the batch path's shuffle.
    """
    stream = spark.readStream.schema(DOC_SCHEMA).parquet(source_dir)
    return (
        stream.withColumn("content_hash", F.md5(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )
