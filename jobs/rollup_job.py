"""Production entry point: spark-submit the tiered rollup pipeline.

Cluster usage (the north-rule deployment shape):

    cd /root/repo && zip -r /tmp/adtk_spark.zip adtk_spark
    spark-submit --py-files /tmp/adtk_spark.zip \
        jobs/rollup_job.py --catalog /data/tiers --ingest-docs 1000000

Each run: (1) optionally ingests a new deterministic corpus snapshot,
(2) rolls every unprocessed raw snapshot into the 1m/1h/1d tiers
(resuming from the manifest watermark — kill it anywhere and rerun),
(3) writes compressed payload blocks for the fresh 1m buckets,
(4) enforces retention. Every catalog commit records its snapshot's
lineage (rows, distinct sources, time range, commit time) in the
manifest during the write, so the report's row counts come from
``catalog.lineage`` instead of re-running the plans just written.

On a real cluster the TierCatalog maps onto Iceberg snapshots; in this
sandbox it is parquet + a JSON manifest with identical commit/read-since
semantics (adtk_spark/sources/catalog.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, ".")  # allow running from the repo root without install


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--catalog", required=True, help="tier catalog root dir")
    p.add_argument("--ingest-docs", type=int, default=0,
                   help="generate+commit a synthetic raw snapshot of N docs")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--sources", type=int, default=256)
    p.add_argument("--quantile", type=float, default=0.5)
    p.add_argument("--retention-days-1m", type=int, default=0,
                   help="drop 1m buckets older than N days from the latest (0=keep all)")
    p.add_argument("--compress", action="store_true",
                   help="write compressed payload blocks for the 1m tier")
    p.add_argument("--sketch", action="store_true",
                   help="carry mergeable t-digest columns through the "
                        "tiers (vq = raw-distribution quantile estimate)")
    p.add_argument("--compact-buckets", type=int, default=0,
                   help="materialize each tier as a bucketed, sorted "
                        "read-optimized table with N buckets (detector "
                        "reads then plan zero Exchange)")
    p.add_argument("--stream-ingest", default=None, metavar="DIR",
                   help="drain a raw parquet stream directory into the "
                        "catalog's tier_1m via Structured Streaming "
                        "(availableNow trigger; one catalog snapshot per "
                        "drained epoch; checkpoint lives in the catalog)")
    p.add_argument("--stream-sketch", action="store_true",
                   help="streamed 1m buckets also carry the mergeable "
                        "t-digest column (sketch routing over streamed "
                        "tiers)")
    p.add_argument("--compact", action="store_true",
                   help="rewrite each tier's accumulated snapshots into "
                        "one compacted snapshot and vacuum the old dirs "
                        "(bounds the per-epoch snapshot union of an "
                        "always-on streaming ingest)")
    p.add_argument("--lsh-dedup", action="store_true",
                   help="run MinHash-LSH near-dup detection over the "
                        "latest raw corpus (tokens rendered as text), "
                        "commit the pair table, and log what the hot-"
                        "bucket cap dropped")
    p.add_argument("--lsh-max-bucket", type=int, default=1000,
                   help="drop LSH buckets holding more than N docs from "
                        "candidate generation (bounds join fan-out; "
                        "dropped buckets are counted in the report)")
    p.add_argument("--lsh-threshold", type=float, default=0.7)
    p.add_argument("--embed-dedup", default=None, metavar="PARQUET",
                   help="run IVF-celled embedding near-dup detection over "
                        "the given embeddings parquet (vec_id, embedding), "
                        "commit the pair table, and log the post-split "
                        "oversized-cell drop report")
    p.add_argument("--embed-threshold", type=float, default=0.95)
    p.add_argument("--embed-max-cell", type=int, default=2000)
    p.add_argument("--embed-lists", type=int, default=16)
    p.add_argument("--route", default=None,
                   help="serve a rollup query from the coarsest dividing "
                        "tier: RES_SECS[,START_ISO[,END_ISO]] — prints the "
                        "serving tier and row count in the report")
    p.add_argument("--route-q", type=float, default=None,
                   help="with --route on a sketch-flavored catalog: also "
                        "serve this RAW-distribution quantile by "
                        "re-merging the routed tier's t-digests "
                        "(route_from_catalog)")
    p.add_argument("--m4", default=None, metavar="WIDTH",
                   help="with --route: M4-downsample the routed mean "
                        "series to WIDTH pixel columns (e.g. '15 minutes') "
                        "— the dashboard serve path (route to the coarsest "
                        "dividing tier, then keep only first/last/min/max "
                        "per column)")
    p.add_argument("--psi-split", default=None, metavar="ISO_TS",
                   help="commit a per-source PSI drift_report comparing "
                        "the 1m tier's mean series before vs after this "
                        "timestamp (the daily upstream-regression alarm)")
    p.add_argument("--psi-edges", default="1,25,50,100,150,250",
                   help="comma-separated PSI value-bin edges")
    p.add_argument("--psi-timeline", action="store_true",
                   help="commit a drift_timeline table: each day's 1m-"
                        "tier mean distribution scored against the "
                        "source's previous observed day (the dashboard "
                        "drift series; uses --psi-edges)")
    p.add_argument("--cores", type=int, default=None)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from adtk_spark.plans.incremental import read_tier_latest, refresh_tiers
    from adtk_spark.plans.payloads import compress_tier
    from adtk_spark.plans.tiers import retention_filter
    from adtk_spark.session import get_spark
    from adtk_spark.sources.catalog import TierCatalog
    from adtk_spark.sources.tokens import token_corpus

    t0 = time.time()
    from pyspark.sql import SparkSession

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark("adtk-rollup-job", cores=args.cores)
    catalog = TierCatalog(args.catalog)
    report = {"catalog": args.catalog}

    if args.ingest_docs > 0:
        corpus = token_corpus(spark, args.ingest_docs,
                              n_sources=args.sources, seed=args.seed)
        snap = catalog.commit(corpus, "raw", {"n_docs": args.ingest_docs,
                                              "seed": args.seed})
        report["ingested_snapshot"] = snap

    # a --stream-sketch catalog is sketch-flavored: batch refresh must
    # keep writing digest-carrying tiers or the mixing guard (rightly)
    # refuses to append mismatched schemas
    report["refresh"] = refresh_tiers(
        catalog, spark, quantile=args.quantile,
        sketch=args.sketch or args.stream_sketch)

    if args.stream_ingest:
        import os

        from adtk_spark.streaming.rollup_stream import (
            run_into_catalog,
            streaming_rollup_1m,
            streaming_rollup_1m_sketch,
        )

        ckpt = os.path.join(args.catalog, "_stream_ckpt")
        agg = (streaming_rollup_1m_sketch(spark, args.stream_ingest)
               if args.stream_sketch
               else streaming_rollup_1m(spark, args.stream_ingest))
        before = len(catalog.snapshots("tier_1m"))
        run_into_catalog(agg, catalog, "tier_1m", ckpt)
        report["stream_ingest"] = {
            "source": args.stream_ingest,
            "new_snapshots": len(catalog.snapshots("tier_1m")) - before,
            "sketch": bool(args.stream_sketch),
        }

    if args.compress:
        t1m = read_tier_latest(catalog, spark, "tier_1m")
        if t1m is not None:
            payloads = compress_tier(t1m, stat="mean")
            report["payload_snapshot"] = catalog.commit(
                payloads, "tier_1m_payloads", {"stat": "mean"})

    if args.compact:
        from adtk_spark.plans.incremental import compact_tier

        compacted_snaps = {}
        for tier in ("tier_1m", "tier_1h", "tier_1d"):
            new_id = compact_tier(catalog, spark, tier)
            if new_id is not None:
                removed = catalog.vacuum(tier)
                compacted_snaps[tier] = {"snapshot": new_id,
                                         "vacuumed_dirs": len(removed)}
        report["compaction"] = compacted_snaps

    if args.compact_buckets > 0:
        compacted = {}
        for tier in ("tier_1m", "tier_1h", "tier_1d"):
            t = read_tier_latest(catalog, spark, tier)
            if t is not None:
                compacted[tier] = catalog.commit_bucketed(
                    t, tier, buckets=args.compact_buckets)
        report["compacted"] = compacted

    if args.lsh_dedup:
        from adtk_spark.operators.corpus import lsh_bucket_stats, minhash_lsh_pairs

        # raw is append-only (no per-bucket restatement), so a plain
        # catalog read — read_tier_latest's latest-wins is for tiers
        raw = catalog.read(spark, "raw")
        if raw is not None:
            # token sequences as whitespace text: word-shingles become
            # token n-grams, so "near-dup" = overlapping token windows
            docs = raw.select(
                "doc_id", F.concat_ws(" ", F.col("tokens")).alias("text"))
            cap = args.lsh_max_bucket
            # operational drop report BEFORE the pair job: every
            # oversized (band, bucket) the cap will exclude, logged so a
            # 100 TB run documents its recall trade instead of hiding it
            dropped = lsh_bucket_stats(docs, max_bucket=cap).agg(
                F.count("*").alias("buckets"),
                F.coalesce(F.sum("n_docs"), F.lit(0)).alias("doc_slots"),
            ).collect()[0]
            pairs = minhash_lsh_pairs(
                docs, jaccard_threshold=args.lsh_threshold, max_bucket=cap)
            snap = catalog.commit(
                pairs, "lsh_pairs",
                {"threshold": args.lsh_threshold, "max_bucket": cap})
            report["lsh"] = {
                "pairs_snapshot": snap,
                "n_pairs": catalog.lineage("lsh_pairs")[snap]["rows"],
                "max_bucket": cap,
                "dropped_buckets": int(dropped["buckets"]),
                "dropped_doc_slots": int(dropped["doc_slots"]),
            }
            print(json.dumps({"lsh_drop_report": report["lsh"]}),
                  file=sys.stderr)

    if args.embed_dedup:
        from adtk_spark.operators.ann import (
            dup_pairs_from_index,
            ivf_assign_multi,
            ivf_cell_stats,
            ivf_fit,
            ivf_split_oversized,
        )

        emb = spark.read.parquet(args.embed_dedup)
        centers = ivf_fit(emb, n_lists=args.embed_lists)
        cap = args.embed_max_cell
        # assign -> split -> stats -> pair on ONE index: the recursive
        # split runs once, and the drop report measures what the cap
        # STILL excludes after it (unsplittable near-identical blobs) —
        # the ANN twin of the LSH drop report above
        idx = ivf_assign_multi(emb, centers, probes=2).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("v"),
            "list_id")
        idx = ivf_split_oversized(idx, cap)
        stats = ivf_cell_stats(idx, max_cell=cap)
        dropped = stats.where(F.col("dropped") == 1).agg(
            F.count("*").alias("cells"),
            F.coalesce(F.sum("n_vecs"), F.lit(0)).alias("vec_slots"),
        ).collect()[0]
        pairs = dup_pairs_from_index(idx, args.embed_threshold,
                                     max_cell=cap)
        snap = catalog.commit(
            pairs, "embed_dup_pairs",
            {"threshold": args.embed_threshold, "max_cell": cap,
             "n_lists": args.embed_lists})
        report["embed_dedup"] = {
            "pairs_snapshot": snap,
            "n_pairs": catalog.lineage("embed_dup_pairs")[snap]["rows"],
            "max_cell": cap,
            "dropped_cells_post_split": int(dropped["cells"]),
            "dropped_vec_slots": int(dropped["vec_slots"]),
        }
        print(json.dumps({"embed_drop_report": report["embed_dedup"]}),
              file=sys.stderr)

    if args.psi_split:
        import datetime as dt

        from adtk_spark.plans.tiers import ks_drift, psi_drift, tier_series

        t1m = read_tier_latest(catalog, spark, "tier_1m")
        if t1m is not None:
            split = dt.datetime.fromisoformat(args.psi_split)
            edges = [float(x) for x in args.psi_edges.split(",")]
            series = tier_series(t1m, "mean")
            # both monitors in one report: PSI for per-bin attribution,
            # KS for the bin-free alarm — same split, tiny per-source
            # tables joined broadcast-side
            drift = psi_drift(series, split, edges).join(
                F.broadcast(ks_drift(series, split).select("source", "ks")),
                "source", "left")
            snap = catalog.commit(
                drift, "drift_report",
                {"split": args.psi_split, "edges": args.psi_edges})
            # from the snapshot just written, not a re-run of `drift`
            rows = catalog.read_snapshot(spark, "drift_report", snap).select(
                "source", "psi", "ks").collect()
            worst = sorted(rows, key=lambda r: -(r["psi"] or 0))[:3]
            worst_ks = sorted(rows, key=lambda r: -(r["ks"] or 0))[:3]
            report["psi"] = {
                "snapshot": snap,
                "split": args.psi_split,
                "sources": len(rows),
                "worst": [(r["source"], float(r["psi"])) for r in worst],
                "worst_ks": [(r["source"], float(r["ks"]))
                             for r in worst_ks if r["ks"] is not None],
            }

    if args.psi_timeline:
        from adtk_spark.plans.tiers import psi_timeline, tier_series

        t1m = read_tier_latest(catalog, spark, "tier_1m")
        if t1m is not None:
            edges = [float(x) for x in args.psi_edges.split(",")]
            tl = psi_timeline(tier_series(t1m, "mean"), edges, "1d")
            snap = catalog.commit(tl, "drift_timeline",
                                  {"edges": args.psi_edges, "tier": "1d"})
            # report from the snapshot just written — sorting the
            # uncached `tl` would re-execute the whole tier-scan pipeline
            committed = catalog.read_snapshot(spark, "drift_timeline", snap)
            worst = (committed.where(F.col("psi").isNotNull())
                     .orderBy(F.desc("psi")).limit(3)
                     .select("source", "bucket_ts", "psi").collect())
            report["psi_timeline"] = {
                "snapshot": snap,
                "rows": catalog.lineage("drift_timeline")[snap]["rows"],
                "worst": [(r["source"], str(r["bucket_ts"]),
                           float(r["psi"])) for r in worst],
            }

    if args.retention_days_1m > 0:
        t1m = read_tier_latest(catalog, spark, "tier_1m")
        if t1m is not None:
            cutoff = t1m.agg(F.max("bucket_ts")).collect()[0][0]
            import datetime as dt

            keep_after = cutoff - dt.timedelta(days=args.retention_days_1m)
            kept = retention_filter(t1m, keep_after)
            snap = catalog.commit(
                kept, "tier_1m_retained", {"keep_after": str(keep_after)})
            report["retention_snapshot"] = snap
            report["retention_kept_rows"] = (
                catalog.lineage("tier_1m_retained")[snap]["rows"])
            # ledger: 1m history older than the cutoff is no longer
            # guaranteed — the router must serve it from coarser tiers
            catalog.set_retention("tier_1m", keep_after)

    if args.route:
        import datetime as dt

        from adtk_spark.plans.router import pick_tier, route_from_catalog

        parts = args.route.split(",")
        res = int(parts[0])
        start = (dt.datetime.fromisoformat(parts[1])
                 if len(parts) > 1 and parts[1] else None)
        end = (dt.datetime.fromisoformat(parts[2])
               if len(parts) > 2 and parts[2] else None)
        tables = {"1m": "tier_1m", "1h": "tier_1h", "1d": "tier_1d"}
        avail = {t: catalog.get_retention(tbl) for t, tbl in tables.items()}
        routed = route_from_catalog(spark, catalog, tables, res, start, end)
        report["route"] = {
            "resolution_secs": res,
            "served_by": pick_tier(res, avail, start=start),
            "rows": routed.count(),
        }
        if args.route_q is not None:
            served = report["route"]["served_by"]
            if "vdigest" not in catalog.columns(spark, tables[served]):
                raise ValueError(
                    "--route-q needs a sketch-flavored catalog (run the "
                    "refresh with --sketch / the ingest with "
                    "--stream-sketch); the routed tier has no vdigest")
            sq = route_from_catalog(spark, catalog, tables, res, start, end,
                                    quantile=args.route_q)
            qrow = sq.agg(
                F.count("*").alias("n"),
                F.avg("vq").alias("avg_vq")).collect()[0]
            report["route"]["sketch_q"] = {
                "q": args.route_q, "rows": int(qrow["n"]),
                "avg_vq": (round(float(qrow["avg_vq"]), 6)
                           if qrow["avg_vq"] is not None else None),
            }

        if args.m4:
            from adtk_spark.plans.tiers import m4_downsample, tier_series

            series = tier_series(routed, "mean")
            pts = m4_downsample(series, args.m4)
            report["route"]["m4"] = {
                "width": args.m4,
                "rows_in": report["route"]["rows"],
                "rows_out": pts.count(),
            }

    report["wall_sec"] = round(time.time() - t0, 2)
    print(json.dumps(report))
    if owns_session:  # don't tear down a session the caller owns
        spark.stop()


if __name__ == "__main__":
    main()
