"""Structured Streaming rollup + the spark-submit job entry point."""

from pyspark.sql import functions as F


def test_streaming_rollup_matches_batch(spark, tmp_path):
    from adtk_spark.plans.tiers import salt_partials
    from adtk_spark.sources.tokens import token_corpus, token_series
    from adtk_spark.streaming.rollup_stream import (
        run_available_now,
        streaming_rollup_1m,
    )

    import datetime as dt

    src = str(tmp_path / "raw_stream")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # arrivals in event-time order (late-beyond-watermark data is
    # *dropped* by design — the batch incremental refresher owns
    # restatements); a final heartbeat advances the watermark past c2
    c1 = token_series(token_corpus(spark, 1500, n_sources=8, seed=21,
                                   span_secs=1800, start="2025-01-01 00:00:00"))
    c2 = token_series(token_corpus(spark, 800, n_sources=8, seed=22,
                                   span_secs=1800, start="2025-01-01 01:00:00"))
    hb = token_series(token_corpus(spark, 5, n_sources=1, seed=23,
                                   span_secs=60, start="2025-01-01 03:00:00"))
    for arrival in (c1, c2, hb):
        arrival.write.mode("append").parquet(src)
        run_available_now(streaming_rollup_1m(spark, src), out, ckpt)

    got = spark.read.parquet(out)
    batch = salt_partials(spark.read.parquet(src), "1m")  # algebraic reference
    g = {(r["source"], r["bucket_ts"], r["cnt"], round(r["vsum"], 6))
         for r in got.collect()}
    b = {(r["source"], r["bucket_ts"], r["cnt"], round(r["vsum"], 6))
         for r in batch.collect()}
    # every emitted bucket matches the batch rollup exactly, and all
    # buckets strictly older than the final watermark were emitted
    assert g <= b
    closed = {x for x in b if x[1] < dt.datetime(2025, 1, 1, 2, 0)}
    assert closed <= g


def test_streaming_psi_drift_matches_batch(spark, tmp_path):
    """Streamed per-window PSI against a frozen psi_reference fit is
    bit-equal to batch psi_drift over reference + that window (same
    proportions, term association and DECIMAL quantization); sources
    absent from the reference emit NULL psi."""
    import datetime as dt

    from adtk_spark.plans.tiers import psi_drift, psi_reference
    from adtk_spark.sources.tokens import token_corpus, token_series
    from adtk_spark.streaming.rollup_stream import (
        run_available_now,
        streaming_psi_drift,
    )

    edges = [10.0, 30.0, 60.0, 120.0]
    # reference: 4 sources in hour 0; current: 6 sources (2 unknown to
    # the reference) in hour 2, one tumbling 1h window
    ref_df = token_series(token_corpus(
        spark, 1200, n_sources=4, seed=31, span_secs=3600,
        start="2025-01-01 00:00:00"))
    cur_df = token_series(token_corpus(
        spark, 900, n_sources=6, seed=32, span_secs=3600,
        start="2025-01-01 02:00:00"))
    hb = token_series(token_corpus(
        spark, 5, n_sources=1, seed=33, span_secs=60,
        start="2025-01-01 05:00:00"))

    ref = psi_reference(ref_df, edges)
    ref_sources = {r["source"] for r in ref.select("source").collect()}

    src = str(tmp_path / "psi_stream")
    out = str(tmp_path / "psi_out")
    ckpt = str(tmp_path / "psi_ckpt")
    for arrival in (cur_df, hb):
        arrival.write.mode("append").parquet(src)
        run_available_now(
            streaming_psi_drift(spark, src, edges, ref, window="1 hour"),
            out, ckpt)

    w2 = dt.datetime(2025, 1, 1, 2, 0)
    got = {r["source"]: (r["n_ref"], r["n_cur"], r["psi"])
           for r in spark.read.parquet(out).collect()
           if r["w_start"] == w2}
    want = {r["source"]: (r["n_ref"], r["n_cur"], r["psi"])
            for r in psi_drift(
                ref_df.unionByName(cur_df),
                dt.datetime(2025, 1, 1, 2, 0), edges).collect()}
    assert got, "window never finalized — watermark did not advance"
    for s, row in got.items():
        if s in ref_sources:
            assert row == want[s], (s, row, want[s])
        else:
            assert row[0] is None and row[2] is None, (s, row)
    # exactly the current-window sources were emitted
    assert {s for s in want if want[s][1] > 0} == set(got)


def test_streaming_dedup_exact(spark, tmp_path):
    """Ingest-edge exact dedup: duplicate content is dropped within a
    micro-batch AND across batches inside the watermark horizon; each
    distinct text survives exactly once (first arrival), matching the
    batch dedup_exact key set."""
    import datetime as dt

    from adtk_spark.streaming.rollup_stream import (
        run_available_now,
        streaming_dedup_exact,
    )

    base = dt.datetime(2025, 1, 1)
    texts = [f"document body number {i}" for i in range(5)]
    b1 = [(i, base, texts[i % 5]) for i in range(10)]          # 5 in-batch dups
    b2 = [(100 + i, base + dt.timedelta(minutes=5),
           texts[i]) for i in range(3)]                        # cross-batch dups
    b2 += [(200, base + dt.timedelta(minutes=5), "a brand new document")]

    src = str(tmp_path / "docs_stream")
    out = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "docs_ckpt")
    schema = "doc_id long, ts timestamp, text string"
    for batch in (b1, b2):
        spark.createDataFrame(batch, schema).write.mode("append").parquet(src)
        run_available_now(
            streaming_dedup_exact(spark, src, watermark="10 minutes"),
            out, ckpt)

    got = spark.read.parquet(out).collect()
    assert len(got) == 6                       # 5 originals + 1 new
    assert {r["text"] for r in got} == set(texts) | {"a brand new document"}
    # first arrival wins: every original text kept its batch-1 doc_id
    assert all(r["doc_id"] < 100 for r in got if r["text"] in texts)


def test_streaming_into_catalog_routes(spark, tmp_path):
    """Stream -> catalog snapshots -> latest-wins read -> tier router:
    each drained micro-batch commits one snapshot, and the routed answer
    over the streamed tier matches a batch rollup of the same raw data
    at the same resolution."""
    import datetime as dt

    from adtk_spark.plans.incremental import read_tier_latest
    from adtk_spark.plans.router import route_rollup
    from adtk_spark.plans.tiers import salt_partials
    from adtk_spark.sources.catalog import TierCatalog
    from adtk_spark.sources.tokens import token_corpus, token_series
    from adtk_spark.streaming.rollup_stream import (
        run_into_catalog,
        streaming_rollup_1m,
    )

    src = str(tmp_path / "raw_stream")
    ckpt = str(tmp_path / "ckpt")
    cat = TierCatalog(str(tmp_path / "cat"))
    c1 = token_series(token_corpus(spark, 1200, n_sources=6, seed=41,
                                   span_secs=1800, start="2025-03-01 00:00:00"))
    hb = token_series(token_corpus(spark, 5, n_sources=1, seed=42,
                                   span_secs=60, start="2025-03-01 02:00:00"))
    for arrival in (c1, hb):
        arrival.write.mode("append").parquet(src)
        run_into_catalog(streaming_rollup_1m(spark, src), cat, "tier_1m", ckpt)

    assert len(cat.snapshots("tier_1m")) >= 1
    meta = cat._load()["tables"]["tier_1m"]["snapshots"][0]["meta"]
    assert "stream_epoch" in meta

    tier = read_tier_latest(cat, spark, "tier_1m")
    cutoff = dt.datetime(2025, 3, 1, 1, 0)
    routed = route_rollup({"1m": tier}, 900, end=cutoff)
    batch = salt_partials(spark.read.parquet(src), "1m")
    e = F.unix_timestamp("bucket_ts").cast("long")
    direct = (
        batch.where(F.col("bucket_ts") < F.lit(cutoff))
        .groupBy("source", F.timestamp_seconds(e - F.pmod(e, F.lit(900))).alias("bucket_ts"))
        .agg(F.sum("cnt").alias("cnt"), F.min("vmin").alias("vmin"),
             F.max("vmax").alias("vmax"), F.sum("vsum").alias("vsum"))
    )
    a = {(r["source"], r["bucket_ts"]): (r["cnt"], r["vmin"], r["vmax"], round(r["vsum"], 6))
         for r in routed.collect()}
    b2 = {(r["source"], r["bucket_ts"]): (r["cnt"], r["vmin"], r["vmax"], round(r["vsum"], 6))
         for r in direct.collect()}
    assert a == b2 and a


def _snapshot_rows(spark, cat, table, snap):
    """Rows of one committed snapshot, counted from its files."""
    from adtk_spark.sources.catalog import TierCatalog

    return TierCatalog(cat).read_snapshot(spark, table, snap).count()


def test_rollup_job_cli(spark, tmp_path, capsys):
    import json

    from jobs.rollup_job import main

    cat = str(tmp_path / "cat")
    main(["--catalog", cat, "--ingest-docs", "1200", "--sources", "8",
          "--compress", "--retention-days-1m", "1", "--cores", "4"])
    line = capsys.readouterr().out.strip().splitlines()[-1]
    rep = json.loads(line)
    assert rep["ingested_snapshot"] == 1
    assert rep["refresh"]["processed"] == 1
    assert rep["payload_snapshot"] >= 1
    assert rep["retention_kept_rows"] > 0
    assert rep["retention_kept_rows"] == _snapshot_rows(
        spark, cat, "tier_1m_retained", rep["retention_snapshot"])
    # second run with nothing new: pure resume, no reprocessing
    main(["--catalog", cat, "--cores", "4"])
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["refresh"]["processed"] == 0
    # routed query against the catalog the job maintains: 2h resolution
    # must come from the 1h tier, 1m resolution from the 1m tier
    main(["--catalog", cat, "--cores", "4", "--route", "7200"])
    rep3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep3["route"]["served_by"] == "1h" and rep3["route"]["rows"] > 0
    # 1m resolution with a start inside the retained window: 1m tier
    from adtk_spark.sources.catalog import TierCatalog

    cutoff = TierCatalog(cat).get_retention("tier_1m")
    main(["--catalog", cat, "--cores", "4",
          "--route", f"60,{cutoff.isoformat()}"])
    rep4 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep4["route"]["served_by"] == "1m" and rep4["route"]["rows"] > 0
    # M4 dashboard serve path on top of the routed tier: <=4 points per
    # source per pixel column, strictly fewer rows out than in
    main(["--catalog", cat, "--cores", "4", "--route", "7200",
          "--m4", "12 hours"])
    rep4b = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    m4 = rep4b["route"]["m4"]
    assert 0 < m4["rows_out"] < m4["rows_in"]
    # unbounded 1m query after retention vacuumed old 1m buckets: no
    # tier both divides 60s and covers ALL history — the router must
    # refuse loudly, not silently truncate at the retention cutoff
    import pytest

    with pytest.raises(KeyError, match="covers start=None"):
        main(["--catalog", cat, "--cores", "4", "--route", "60"])
    capsys.readouterr()
    # LSH near-dup over the raw corpus: pair table committed, and the
    # hot-bucket cap's drop report logged in the job output
    main(["--catalog", cat, "--cores", "4", "--lsh-dedup",
          "--lsh-max-bucket", "50"])
    rep5 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep5["lsh"]["pairs_snapshot"] >= 1
    assert rep5["lsh"]["n_pairs"] == _snapshot_rows(
        spark, cat, "lsh_pairs", rep5["lsh"]["pairs_snapshot"])
    assert {"n_pairs", "max_bucket", "dropped_buckets",
            "dropped_doc_slots"} <= set(rep5["lsh"])
    # PSI drift report over the 1m tier: committed as a drift_report
    # snapshot, worst offenders listed in the job report
    main(["--catalog", cat, "--cores", "4",
          "--psi-split", "2025-01-04T00:00:00"])
    rep6 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep6["psi"]["snapshot"] >= 1
    assert rep6["psi"]["sources"] > 0
    assert len(rep6["psi"]["worst"]) > 0
    # the same report carries the bin-free KS companion score
    assert len(rep6["psi"]["worst_ks"]) > 0
    assert all(0.0 <= k <= 1.0 for _, k in rep6["psi"]["worst_ks"])
    assert TierCatalog(cat).last_snapshot("drift_report") >= 1
    # day-over-day drift timeline: committed as its own table, worst
    # (source, day) offenders in the report
    main(["--catalog", cat, "--cores", "4", "--psi-timeline"])
    rep7 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep7["psi_timeline"]["snapshot"] >= 1
    assert rep7["psi_timeline"]["rows"] > 0
    assert rep7["psi_timeline"]["rows"] == _snapshot_rows(
        spark, cat, "drift_timeline", rep7["psi_timeline"]["snapshot"])
    assert TierCatalog(cat).last_snapshot("drift_timeline") >= 1


def test_streaming_persist_ad_matches_batch(spark, tmp_path):
    """Fit PersistAD bounds batch-side, score the same series as a
    3-chunk stream, and demand point parity with the batch detector —
    including across chunk boundaries, which only state carry-over can
    satisfy."""
    import math

    from adtk_spark.operators.data import validate_series
    from adtk_spark.operators.detectors import persist_ad_detect, persist_ad_fit
    from adtk_spark.sources.tokens import token_corpus, token_series
    from adtk_spark.streaming.stateful import streaming_persist_ad

    raw = validate_series(
        token_series(token_corpus(spark, 3000, n_sources=6, seed=31,
                                  span_secs=5400, start="2025-02-01 00:00:00"))
    ).cache()
    W, MP = 7, 4
    bounds = persist_ad_fit(raw, window=W, c=3.0, min_periods=MP)
    batch = {
        (r["source"], r["ts"]): r["label"]
        for r in persist_ad_detect(raw, bounds, window=W,
                                   min_periods=MP).collect()
    }

    # arrivals split by event-time terciles (in-order delivery contract)
    lo, hi = raw.selectExpr(
        "percentile(unix_micros(cast(ts as timestamp)), 0.333) p1",
        "percentile(unix_micros(cast(ts as timestamp)), 0.667) p2",
    ).first()
    from pyspark.sql import functions as F
    mic = F.unix_micros(F.col("ts").cast("timestamp"))
    chunks = [raw.where(mic <= lo), raw.where((mic > lo) & (mic <= hi)),
              raw.where(mic > hi)]

    src_dir, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    for ch in chunks:
        ch.write.mode("append").parquet(src_dir)
        stream = spark.readStream.schema(
            "source string, ts timestamp, value double").parquet(src_dir)
        labeled = streaming_persist_ad(stream, bounds, window=W,
                                       min_periods=MP)
        q = (labeled.writeStream.outputMode("append")
             .trigger(availableNow=True)
             .option("checkpointLocation", ckpt)
             .format("parquet").option("path", out).start())
        q.awaitTermination()

    got = {(r["source"], r["ts"]): r["label"]
           for r in spark.read.parquet(out).collect()}
    assert set(got) == set(batch)
    n_anom = 0
    for k, g in got.items():
        b = batch[k]
        if b is None or (isinstance(b, float) and math.isnan(b)):
            assert g is None or math.isnan(g), k
        else:
            assert g == b, (k, g, b)
            n_anom += int(b == 1.0)
    assert n_anom > 0  # the comparison is not vacuous
    raw.unpersist()


def test_streaming_persist_ad_unfitted_source_side(spark, tmp_path):
    """side='positive' with one source missing from the bounds: the
    stream labels that source like persist_ad_detect, i.e. SQL
    three-valued AND (a non-positive diff gives 0.0 even though the
    IQR leg is NULL), not NaN for every point."""
    import math

    from adtk_spark.operators.data import validate_series
    from adtk_spark.operators.detectors import persist_ad_detect, persist_ad_fit
    from adtk_spark.sources.tokens import token_corpus, token_series
    from adtk_spark.streaming.stateful import streaming_persist_ad

    raw = validate_series(
        token_series(token_corpus(spark, 600, n_sources=3, seed=71,
                                  span_secs=3600)))
    missing = min(r["source"] for r in raw.select("source").distinct().collect())
    bounds = persist_ad_fit(raw, window=5).where(F.col("source") != missing)
    want = {(r["source"], r["ts"]): r["label"]
            for r in persist_ad_detect(raw, bounds, window=5,
                                       side="positive").collect()}

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    raw.write.parquet(src)
    stream = spark.readStream.schema(
        "source string, ts timestamp, value double").parquet(src)
    q = (streaming_persist_ad(stream, bounds, window=5, side="positive")
         .writeStream.outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", ckpt)
         .format("parquet").option("path", out).start())
    q.awaitTermination()
    got = {(r["source"], r["ts"]): r["label"]
           for r in spark.read.parquet(out).collect()}

    assert set(got) == set(want)
    nan = lambda v: v is None or math.isnan(v)
    for k, w in want.items():
        assert (nan(got[k]) and nan(w)) or got[k] == w, (k, got[k], w)
    # not vacuous: the unfitted source has decided 0.0 labels
    assert any(k[0] == missing and w == 0.0 for k, w in want.items())


def test_streaming_bounds_ad_stream_static_join(spark, tmp_path):
    """Stateless streaming predict: batch-fitted IQR bounds applied to
    a file stream via the stream-static broadcast join; labels match
    the batch detector exactly."""
    from adtk_spark.operators.data import validate_series
    from adtk_spark.operators.detectors import apply_bounds, iqr_ad_fit
    from adtk_spark.sources.tokens import token_corpus, token_series
    from adtk_spark.streaming.stateful import streaming_bounds_ad

    raw = validate_series(
        token_series(token_corpus(spark, 1200, n_sources=5, seed=51)))
    bounds = iqr_ad_fit(raw, c=1.5)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    raw.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "source string, ts timestamp, value double").parquet(src)
    q = (streaming_bounds_ad(stream, bounds)
         .writeStream.outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", ckpt)
         .format("parquet").option("path", out).start())
    q.awaitTermination()
    got = {(r["source"], r["ts"]): r["label"]
           for r in spark.read.parquet(out).collect()}
    want = {(r["source"], r["ts"]): r["label"]
            for r in apply_bounds(raw, bounds).collect()}
    assert got == want
    assert sum(1 for v in got.values() if v == 1.0) > 0


def test_streaming_persist_ad_mean_agg(spark, tmp_path):
    """Non-default agg parity: the streaming scorer's trailing-mean path
    matches the batch detector point-for-point in a 2-chunk stream."""
    import math

    from adtk_spark.operators.data import validate_series
    from adtk_spark.operators.detectors import persist_ad_detect, persist_ad_fit
    from adtk_spark.sources.tokens import token_corpus, token_series
    from adtk_spark.streaming.stateful import streaming_persist_ad
    from pyspark.sql import functions as F

    raw = validate_series(
        token_series(token_corpus(spark, 1500, n_sources=4, seed=61)))
    bounds = persist_ad_fit(raw, window=5, c=2.0, min_periods=3, agg="mean")
    mid = raw.selectExpr(
        "percentile(unix_micros(cast(ts as timestamp)), 0.5) m").first()["m"]
    mic = F.unix_micros(F.col("ts").cast("timestamp"))
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    for ch in (raw.where(mic <= mid), raw.where(mic > mid)):
        ch.write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            "source string, ts timestamp, value double").parquet(src)
        q = (streaming_persist_ad(stream, bounds, window=5, min_periods=3,
                                  agg="mean")
             .writeStream.outputMode("append").trigger(availableNow=True)
             .option("checkpointLocation", ckpt)
             .format("parquet").option("path", out).start())
        q.awaitTermination()
    got = {(r["source"], r["ts"]): r["label"]
           for r in spark.read.parquet(out).collect()}
    want = {(r["source"], r["ts"]): r["label"]
            for r in persist_ad_detect(raw, bounds, window=5, min_periods=3,
                                       agg="mean").collect()}
    assert set(got) == set(want)
    for k, g in got.items():
        w = want[k]
        if w is None or (isinstance(w, float) and math.isnan(w)):
            assert g is None or math.isnan(g), k
        else:
            assert abs(g - w) < 1e-12, k


def test_stream_job_cli(spark, tmp_path, capsys):
    """The streaming spark-submit entry: drains the source via
    availableNow (rollup + stateful scoring), and a rerun with no new
    files resumes from checkpoints processing nothing new."""
    import json

    from adtk_spark.sources.catalog import TierCatalog
    from adtk_spark.sources.tokens import token_corpus, token_series
    from jobs.stream_job import main

    raw = token_series(token_corpus(spark, 1200, n_sources=6, seed=71))
    src = str(tmp_path / "src")
    raw.write.mode("overwrite").parquet(src)
    cat = TierCatalog(str(tmp_path / "cat"))
    cat.commit(raw, "raw")

    out = str(tmp_path / "out")
    main(["--source", src, "--out", out,
          "--score-bounds-from", str(tmp_path / "cat"),
          "--psi-ref-from", str(tmp_path / "cat"),
          "--psi-edges", "5,20,60", "--psi-window", "1 day",
          "--window", "5", "--min-periods", "3", "--cores", "4"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["t1m_rows"] > 0
    assert rep["label_rows"] == raw.count()
    # live PSI monitor: finalized windows scored against the frozen
    # reference fit from the catalog's raw table
    assert rep["drift_rows"] > 0

    # rerun, nothing new: checkpoint resume, counts unchanged
    main(["--source", src, "--out", out,
          "--score-bounds-from", str(tmp_path / "cat"),
          "--window", "5", "--min-periods", "3", "--cores", "4"])
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["t1m_rows"] == rep["t1m_rows"]
    assert rep2["label_rows"] == rep["label_rows"]


def test_bounds_map_null_bounds_degrade_to_nan(spark):
    """An unfittable source's NULL bounds must become NaN in the
    streaming scorer's model map (NaN labels downstream), not a
    TypeError that kills the query (round-2 review finding)."""
    import math

    from adtk_spark.operators.detectors import persist_ad_fit
    from adtk_spark.streaming.stateful import _bounds_map
    from tests.conftest import series_df

    # source with 3 points cannot fill a window of 10 -> NULL abs_high
    short = series_df(spark, [1.0, 2.0, 3.0], sources=("S",))
    ok = series_df(spark, [float(i % 7) for i in range(40)], sources=("L",))
    bounds = persist_ad_fit(short.unionByName(ok), window=10)
    m = _bounds_map(bounds, "source")
    assert math.isnan(m["S"][1])
    assert not math.isnan(m["L"][1])


def test_streaming_sketch_rollup_matches_batch(spark, tmp_path):
    """Sketch-carrying streaming 1m rollup: finalized buckets match the
    batch rollup_raw_sketch point-for-point (algebraic stats exact,
    digest quantile identical for the same per-bucket multiset), and the
    streamed digests re-merge upward with rollup_up_sketch."""
    import datetime as dt

    from adtk_spark.plans.tiers import rollup_raw_sketch, rollup_up_sketch
    from adtk_spark.sources.tokens import token_corpus, token_series
    from adtk_spark.streaming.rollup_stream import (
        run_available_now,
        streaming_rollup_1m_sketch,
    )

    src = str(tmp_path / "raw_stream")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    c1 = token_series(token_corpus(spark, 1200, n_sources=6, seed=51,
                                   span_secs=1800, start="2025-07-01 00:00:00"))
    hb = token_series(token_corpus(spark, 5, n_sources=1, seed=52,
                                   span_secs=60, start="2025-07-01 02:00:00"))
    for arrival in (c1, hb):
        arrival.write.mode("append").parquet(src)
        run_available_now(streaming_rollup_1m_sketch(spark, src), out, ckpt)

    got = spark.read.parquet(out)
    batch = rollup_raw_sketch(spark.read.parquet(src), "1m")
    cutoff = dt.datetime(2025, 7, 1, 1, 0)  # strictly before the watermark

    def key(rows):
        return {(r["source"], r["bucket_ts"]):
                (r["cnt"], r["vmin"], r["vmax"], round(r["vsum"], 6),
                 round(r["vq"], 6))
                for r in rows}

    g = key(got.where(F.col("bucket_ts") < F.lit(cutoff)).collect())
    b = key(batch.where(F.col("bucket_ts") < F.lit(cutoff)).collect())
    assert g == b and g

    # streamed digests feed the batch upward merge: 1h vq from streamed
    # 1m digests equals 1h vq from batch 1m digests
    up_g = key(rollup_up_sketch(
        got.where(F.col("bucket_ts") < F.lit(cutoff)), "1h").collect())
    up_b = key(rollup_up_sketch(
        batch.where(F.col("bucket_ts") < F.lit(cutoff)), "1h").collect())
    assert up_g == up_b and up_g


def test_spark_submit_py_files(tmp_path):
    """The north-rule deployment shape end-to-end: zip the package, run
    the rollup job under a real `spark-submit --py-files` subprocess
    from a NEUTRAL cwd (the package can only resolve from the zip), and
    check the job report."""
    import json
    import os
    import subprocess
    import zipfile

    import pyspark
    import pytest

    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if not os.path.exists(submit):
        pytest.skip("spark-submit launcher not present")

    zip_path = str(tmp_path / "adtk_spark.zip")
    pkg_root = "/root/repo/adtk_spark"
    with zipfile.ZipFile(zip_path, "w") as z:
        for dirpath, _, files in os.walk(pkg_root):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, "/root/repo"))

    env = dict(os.environ, SPARK_GRAFT_ON_CLUSTER="1")
    proc = subprocess.run(
        [submit, "--master", "local[4]", "--driver-memory", "4g",
         "--py-files", zip_path, "/root/repo/jobs/rollup_job.py",
         "--catalog", str(tmp_path / "cat"),
         "--ingest-docs", "2000", "--sources", "8"],
        capture_output=True, text=True, cwd=str(tmp_path), env=env,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rep = json.loads(proc.stdout.strip().splitlines()[-1])
    assert rep["ingested_snapshot"] == 1
    assert rep["refresh"] == {"processed": 1, "watermark": 1,
                              "tier_1m": 1, "tier_1h": 1, "tier_1d": 1}


def test_streaming_level_shift_ad_matches_batch(spark, tmp_path):
    """Delayed-emission streaming LevelShiftAD: fit batch-side, stream
    the same series in 3 chunks, and demand point parity with the batch
    detector on every emitted row — emission lags the stream by wr-1
    rows per source, so only rows whose right window arrived are
    compared (the stream tail is the batch refresher's job)."""
    import math

    from pyspark.sql import Window as W_

    from adtk_spark.operators.data import validate_series
    from adtk_spark.operators.detectors import (
        level_shift_ad_detect,
        level_shift_ad_fit,
    )
    from adtk_spark.sources.tokens import token_corpus, token_series
    from adtk_spark.streaming.stateful import streaming_level_shift_ad

    raw = validate_series(
        token_series(token_corpus(spark, 3000, n_sources=6, seed=61,
                                  span_secs=5400, start="2025-08-01 00:00:00"))
    ).cache()
    WIN, C = (6, 4), 2.0
    bounds = level_shift_ad_fit(raw, window=WIN, c=C)
    batch = {(r["source"], r["ts"]): r["label"]
             for r in level_shift_ad_detect(raw, bounds, window=WIN).collect()}
    # rows with a complete right window: all but the last wr-1 per source
    n_follow = F.count("*").over(
        W_.partitionBy("source").orderBy("ts")
        .rowsBetween(1, W_.unboundedFollowing))
    emittable = {(r["source"], r["ts"]) for r in
                 raw.select("source", "ts", n_follow.alias("nf"))
                 .where(F.col("nf") >= WIN[1] - 1).collect()}

    lo, hi = raw.selectExpr(
        "percentile(unix_micros(cast(ts as timestamp)), 0.333) p1",
        "percentile(unix_micros(cast(ts as timestamp)), 0.667) p2").first()
    mic = F.unix_micros(F.col("ts").cast("timestamp"))
    chunks = [raw.where(mic <= lo), raw.where((mic > lo) & (mic <= hi)),
              raw.where(mic > hi)]
    src_dir, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    for ch in chunks:
        ch.write.mode("append").parquet(src_dir)
        stream = spark.readStream.schema(
            "source string, ts timestamp, value double").parquet(src_dir)
        labeled = streaming_level_shift_ad(stream, bounds, window=WIN)
        q = (labeled.writeStream.outputMode("append")
             .trigger(availableNow=True)
             .option("checkpointLocation", ckpt)
             .format("parquet").option("path", out).start())
        q.awaitTermination()

    got = {(r["source"], r["ts"]): r["label"]
           for r in spark.read.parquet(out).collect()}
    assert set(got) == emittable  # exactly the delayed-emission contract
    n_anom = 0
    for k, g in got.items():
        b = batch[k]
        if b is None or (isinstance(b, float) and math.isnan(b)):
            assert g is None or math.isnan(g), k
        else:
            assert g == b, (k, g, b)
            n_anom += int(b == 1.0)
    assert n_anom > 0  # the level-shift burst in the corpus is caught
    raw.unpersist()


def test_streaming_volatility_shift_ad_matches_batch(spark, tmp_path):
    """Same delayed-emission machinery, volatility statistic: a series
    whose noise amplitude jumps mid-way must be flagged identically by
    the batch detector and the 2-chunk stream."""
    import datetime as dt
    import math

    import numpy as np

    from adtk_spark.operators.detectors import (
        volatility_shift_ad_detect,
        volatility_shift_ad_fit,
    )
    from adtk_spark.streaming.stateful import streaming_volatility_shift_ad

    rng = np.random.RandomState(5)
    t0 = dt.datetime(2025, 8, 2)
    rows = []
    for src in ("a", "b"):
        for i in range(120):
            sigma = 1.0 if i < 60 else 8.0
            rows.append((src, t0 + dt.timedelta(minutes=i),
                         100.0 + float(rng.randn()) * sigma))
    raw = spark.createDataFrame(rows, "source string, ts timestamp, value double")
    WIN = (8, 6)
    bounds = volatility_shift_ad_fit(raw, window=WIN, c=1.0, agg="std")
    batch = {(r["source"], r["ts"]): r["label"] for r in
             volatility_shift_ad_detect(raw, bounds, window=WIN,
                                        agg="std").collect()}

    mid = t0 + dt.timedelta(minutes=70)
    src_dir, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    for ch in (raw.where(F.col("ts") < F.lit(mid)),
               raw.where(F.col("ts") >= F.lit(mid))):
        ch.write.mode("append").parquet(src_dir)
        stream = spark.readStream.schema(
            "source string, ts timestamp, value double").parquet(src_dir)
        labeled = streaming_volatility_shift_ad(stream, bounds, window=WIN,
                                                agg="std")
        q = (labeled.writeStream.outputMode("append")
             .trigger(availableNow=True)
             .option("checkpointLocation", ckpt)
             .format("parquet").option("path", out).start())
        q.awaitTermination()

    got = {(r["source"], r["ts"]): r["label"]
           for r in spark.read.parquet(out).collect()}
    # emitted = all rows but the last wr-1 per source
    assert len(got) == 2 * (120 - (WIN[1] - 1))
    n_anom = 0
    for k, g in got.items():
        b = batch[k]
        if b is None or (isinstance(b, float) and math.isnan(b)):
            assert g is None or math.isnan(g), k
        else:
            assert g == b, (k, g, b)
            n_anom += int(b == 1.0)
    assert n_anom > 0  # the variance jump is caught on both sides


def test_rollup_job_stream_ingest_and_compact(spark, tmp_path, capsys):
    """CLI streaming ingest (availableNow drain into tier_1m, sketch
    columns) followed by CLI compaction + vacuum of the per-epoch
    snapshots."""
    import json

    from adtk_spark.sources.tokens import token_corpus, token_series
    from jobs.rollup_job import main

    src = str(tmp_path / "stream_src")
    cat = str(tmp_path / "cat")
    # two arrival batches ADVANCING in event time (append mode emits a
    # window only when the watermark passes it) -> two drain epochs
    for seed, start in ((81, "2025-08-04 00:00:00"),
                        (82, "2025-08-04 01:00:00")):
        token_series(token_corpus(spark, 400, n_sources=4, seed=seed,
                                  span_secs=900, start=start)
                     ).write.mode("append").parquet(src)
        main(["--catalog", cat, "--cores", "4",
              "--stream-ingest", src, "--stream-sketch"])
        capsys.readouterr()

    from adtk_spark.sources.catalog import TierCatalog

    c = TierCatalog(cat)
    assert len(c.snapshots("tier_1m")) == 2
    t = c.read(spark, "tier_1m")
    assert {"vdigest", "vq"} <= set(t.columns)
    rows_before = t.drop("snap").count()

    main(["--catalog", cat, "--cores", "4", "--compact"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["compaction"]["tier_1m"]["vacuumed_dirs"] == 2
    assert c.snapshots("tier_1m") == [3]
    # compaction preserves the latest-wins row set (sketch cols intact)
    t2 = c.read(spark, "tier_1m")
    assert {"vdigest", "vq"} <= set(t2.columns)
    assert t2.drop("snap").count() <= rows_before  # restatements folded


def test_rollup_job_route_q_sketch(spark, tmp_path, capsys):
    """--route-q serves a raw-distribution quantile from the routed
    tier's re-merged t-digests; without a sketch catalog it refuses."""
    import json

    import pytest

    from jobs.rollup_job import main

    cat = str(tmp_path / "cat")
    main(["--catalog", cat, "--ingest-docs", "800", "--sources", "8",
          "--cores", "4", "--sketch", "--route", "7200",
          "--route-q", "0.9"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    sq = rep["route"]["sketch_q"]
    assert sq["q"] == 0.9 and sq["rows"] == rep["route"]["rows"] > 0
    assert sq["avg_vq"] is not None

    cat2 = str(tmp_path / "cat2")
    main(["--catalog", cat2, "--ingest-docs", "400", "--sources", "4",
          "--cores", "4"])
    capsys.readouterr()
    with pytest.raises(ValueError, match="sketch-flavored"):
        main(["--catalog", cat2, "--cores", "4", "--route", "7200",
              "--route-q", "0.5"])
    capsys.readouterr()


def test_streaming_cusum_matches_batch(spark, tmp_path):
    """Fit CUSUM reference stats batch-side, stream the same series in
    3 event-time chunks, and demand point parity with the batch
    closed-form detector: labels exactly, sp/sm to float-associativity
    tolerance (the carry-in regroups the prefix-sum association at
    chunk boundaries; error is ulp-scale of the running prefix sums)."""
    from adtk_spark.operators.data import validate_series
    from adtk_spark.operators.detectors import cusum_ad_detect, cusum_ad_fit
    from adtk_spark.sources.tokens import token_corpus, token_series
    from adtk_spark.streaming.stateful import streaming_cusum_ad
    from pyspark.sql import functions as F

    raw = validate_series(
        token_series(token_corpus(spark, 3000, n_sources=6, seed=47,
                                  span_secs=5400,
                                  start="2025-03-01 00:00:00"))).cache()
    model = cusum_ad_fit(raw)
    batch = {
        (r["source"], r["ts"]): (r["sp"], r["sm"], r["label"])
        for r in cusum_ad_detect(raw, model, 0.5, 3.0).collect()
    }

    lo, hi = raw.selectExpr(
        "percentile(unix_micros(cast(ts as timestamp)), 0.333) p1",
        "percentile(unix_micros(cast(ts as timestamp)), 0.667) p2",
    ).first()
    mic = F.unix_micros(F.col("ts").cast("timestamp"))
    chunks = [raw.where(mic <= lo), raw.where((mic > lo) & (mic <= hi)),
              raw.where(mic > hi)]

    src_dir, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    for ch in chunks:
        ch.write.mode("append").parquet(src_dir)
        stream = spark.readStream.schema(
            "source string, ts timestamp, value double").parquet(src_dir)
        labeled = streaming_cusum_ad(stream, model, 0.5, 3.0)
        q = (labeled.writeStream.outputMode("append")
             .trigger(availableNow=True)
             .option("checkpointLocation", ckpt)
             .format("parquet").option("path", out).start())
        q.awaitTermination()

    got = {
        (r["source"], r["ts"]): (r["sp"], r["sm"], r["label"])
        for r in spark.read.parquet(out).collect()
    }
    assert set(got) == set(batch)
    n_anom = 0
    for key, (bsp, bsm, bl) in batch.items():
        gsp, gsm, gl = got[key]
        # regrouping error is ulp-scale of the RUNNING PREFIX SUMS
        # (which reach ~1e5 here), not of sp/sm themselves: 1e-6 is
        # ~9 orders below the h threshold scale
        assert abs(gsp - bsp) <= 1e-6 and abs(gsm - bsm) <= 1e-6, key
        assert gl == bl, key
        n_anom += bl == 1.0
    assert n_anom > 0  # the check is non-vacuous


def test_streaming_twa_partials_match_batch(spark, tmp_path):
    """TWA at the ingest edge: the same series streamed in 3 event-time
    chunks must produce partial rows whose merge equals the batch
    rollup_twa(carry_sums=True) tier BIT-FOR-BIT — weight micros,
    1e-6-unit value-seconds, covered_secs AND twa — including segments
    that straddle chunk boundaries (only the (last_ts, last_value)
    state carry can close those)."""
    from pyspark.sql import functions as F

    from adtk_spark.operators.data import validate_series
    from adtk_spark.plans.tiers import rollup_twa
    from adtk_spark.sources.tokens import token_corpus, token_series
    from adtk_spark.streaming.rollup_stream import (
        streaming_twa_partials,
        twa_merge_partials,
    )

    raw = validate_series(
        token_series(token_corpus(spark, 4000, n_sources=5, seed=17,
                                  span_secs=7200, start="2025-03-01 00:00:00"))
    ).cache()
    batch = rollup_twa(raw, "1m", carry_sums=True)
    expect = {
        (r["source"], r["bucket_ts"]):
            (r["_w_us"], int(r["_vw"].scaleb(6)), r["covered_secs"], r["twa"])
        for r in batch.collect()
    }

    lo, hi = raw.selectExpr(
        "percentile(unix_micros(cast(ts as timestamp)), 0.333) p1",
        "percentile(unix_micros(cast(ts as timestamp)), 0.667) p2",
    ).first()
    mic = F.unix_micros(F.col("ts").cast("timestamp"))
    chunks = [raw.where(mic <= lo), raw.where((mic > lo) & (mic <= hi)),
              raw.where(mic > hi)]

    src_dir, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    for ch in chunks:
        ch.write.mode("append").parquet(src_dir)
        stream = spark.readStream.schema(
            "source string, ts timestamp, value double").parquet(src_dir)
        q = (streaming_twa_partials(stream, "1m")
             .writeStream.outputMode("append").trigger(availableNow=True)
             .option("checkpointLocation", ckpt)
             .format("parquet").option("path", out).start())
        q.awaitTermination()

    merged = twa_merge_partials(spark.read.parquet(out))
    got = {
        (r["source"], r["bucket_ts"]): r for r in
        merged.join(
            spark.read.parquet(out).groupBy("source", "bucket_ts").agg(
                F.sum("w_us").alias("w_us"), F.sum("vw_u").alias("vw_u")),
            ["source", "bucket_ts"]).collect()
    }
    assert set(got) == set(expect)
    for k, r in got.items():
        w_us, vw_u, covered, twa = expect[k]
        assert r["w_us"] == w_us, k
        assert r["vw_u"] == vw_u, k          # exact quantized partials
        assert r["covered_secs"] == covered, k
        assert r["twa"] == twa, k            # bit-equal final division
    raw.unpersist()


def _integer_raw(spark, t0, n=240):
    """(source, ts, value) with integer-valued doubles, so every sum is
    exact in any order and producers must agree bit for bit."""
    import datetime as dt

    rows = [(src, t0 + dt.timedelta(seconds=7 * i + off), float((i * 5 + off) % 23))
            for src, off in (("a", 0), ("b", 3)) for i in range(n)]
    return spark.createDataFrame(rows, "source string, ts timestamp, value double")


def test_tier_producers_share_one_algebra(spark, tmp_path):
    """rollup_raw, salt_partials, rollup_at at 60 s and the plain 1m
    stream emit the same cnt/vmin/vmax/vsum/mean values and dtypes; the
    batch, routed and streamed sketch tiers emit one column list, and
    so do the batch and streamed plain tiers."""
    import datetime as dt

    from adtk_spark.plans.router import rollup_at, route_rollup_sketch
    from adtk_spark.plans.tiers import rollup_raw, rollup_raw_sketch, salt_partials
    from adtk_spark.streaming.rollup_stream import (
        run_available_now,
        streaming_rollup_1m,
        streaming_rollup_1m_sketch,
    )

    t0 = dt.datetime(2025, 9, 1)
    src, out = str(tmp_path / "raw_stream"), str(tmp_path / "out")
    _integer_raw(spark, t0).write.parquet(src)
    # a later heartbeat moves the watermark past every data minute
    _integer_raw(spark, t0 + dt.timedelta(hours=2), n=1) \
        .write.mode("append").parquet(src)
    run_available_now(streaming_rollup_1m(spark, src), out,
                      str(tmp_path / "ckpt"))

    raw = spark.read.parquet(src)
    cols = ["source", "bucket_ts", "cnt", "vmin", "vmax", "vsum", "mean"]
    producers = {
        "rollup_raw": rollup_raw(raw),
        "salt_partials": salt_partials(raw, "1m", n_salts=4),
        "rollup_at": rollup_at(raw, 60),
        "stream": spark.read.parquet(out),
    }
    cutoff = t0 + dt.timedelta(hours=1)
    got = {}
    for name, df in producers.items():
        df = df.select(*cols).where(F.col("bucket_ts") < F.lit(cutoff))
        got[name] = (df.dtypes, sorted(map(tuple, df.collect())))
    want = got.pop("rollup_raw")
    assert len(want[1]) == 2 * 28  # 240 points 7 s apart: 28 minutes a source
    for name, g in got.items():
        assert g == want, name

    # one column list per tier flavor: the plain stream's NULL vq sits
    # where the batch quantile does
    s1m = rollup_raw_sketch(raw, "1m")
    schemas = {
        "routed": (route_rollup_sketch({"1m": s1m}, 60), s1m),
        "stream_sketch": (streaming_rollup_1m_sketch(spark, src), s1m),
        "stream": (streaming_rollup_1m(spark, src), producers["rollup_raw"]),
    }
    for name, (df, ref) in schemas.items():
        assert df.dtypes == ref.dtypes, name


def test_stream_sketch_keeps_batch_sketch_schema(spark, tmp_path):
    """A batch sketch commit to tier_1m followed by the sketch stream's
    commits (rollup_job --stream-sketch: refresh with sketch=True, then
    drain the stream) keeps the table's recorded schema, so reads of
    the table stay on the manifest schema instead of inference."""
    import datetime as dt

    from adtk_spark.plans.tiers import rollup_raw_sketch
    from adtk_spark.sources.catalog import TierCatalog
    from adtk_spark.streaming.rollup_stream import (
        run_into_catalog,
        streaming_rollup_1m_sketch,
    )

    t0 = dt.datetime(2025, 9, 2)
    cat = TierCatalog(str(tmp_path / "cat"))
    batch = _integer_raw(spark, t0, n=60)
    cat.commit(rollup_raw_sketch(batch, "1m"), "tier_1m")
    assert "schema" in cat._load()["tables"]["tier_1m"]

    src = str(tmp_path / "raw_stream")
    _integer_raw(spark, t0 + dt.timedelta(hours=1), n=60).write.parquet(src)
    _integer_raw(spark, t0 + dt.timedelta(hours=3), n=1) \
        .write.mode("append").parquet(src)
    run_into_catalog(streaming_rollup_1m_sketch(spark, src), cat, "tier_1m",
                     str(tmp_path / "ckpt"))
    assert len(cat.snapshots("tier_1m")) >= 2
    assert "schema" in cat._load()["tables"]["tier_1m"]
