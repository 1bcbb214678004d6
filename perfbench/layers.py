"""Per-layer metrics of a traced run, computed from its spans.

Every figure is per traced unit (sum over the traced units divided by
their number) unless it is a latency (median per call, ms), a ratio or
a whole-run figure (peak RSS). Layers a workload does not exercise
report 0. The root spans are the ``<workload>.iteration`` spans, one
per traced unit, around exactly the timed region.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

DETECTORS = ("persist_ad", "level_shift_ad", "volatility_shift_ad",
             "quantile_ad", "iqr_ad")
OPERATORS = ("windows.rolling_agg", "windows.double_rolling_agg",
             "tiers.psi_drift", "tiers.ks_drift", "tiers.js_drift",
             "gapfill.forward_fill", "gapfill.interpolate_linear",
             "events.to_events")
ROLLUPS = ("rollup_raw", "rollup_up_1h", "rollup_up_1d")


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(tr, wl, plain: list[float], traced: list[float], steal: float,
              cores: int, rss_mb: float) -> dict[str, tuple[float, str]]:
    n = len(traced)
    spans = tr.spans
    selfs = tr.self_times()
    by = tr.by_name()
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)

    def dur(s):
        return s["end"] - s["start"]

    def subtree(s):
        yield s
        for k in kids[s["id"]]:
            yield from subtree(k)

    def spark(s, field):
        """A Spark counter over the span and everything below it."""
        return sum(d["spark"][field] for d in subtree(s))

    def layer(s):
        """A span at a package boundary, not one of the runner's own."""
        return not (s["name"].startswith("op.") or s["name"].endswith(".iteration"))

    def in_layer(s):
        p = s["parent"]
        while p is not None:
            if layer(spans[p]):
                return True
            p = spans[p]["parent"]
        return False

    def total(name):
        return sum(dur(s) for s in by.get(name, ())) / n

    def counter(name, field):
        return sum(spark(s, field) for s in by.get(name, ())) / n

    m: dict[str, tuple[float, str]] = {}
    commits = by.get("catalog.commit", [])
    m["incremental.refresh_tiers.s"] = (total("incremental.refresh_tiers"), "s")
    m["lineage.commit_with_lineage.self_s"] = (sum(
        selfs[s["id"]] for s in by.get("lineage.commit_with_lineage", ())) / n, "s")
    m["catalog.commit.s"] = (total("catalog.commit"), "s")
    m["catalog.commit.bytes_written"] = (
        sum(s.get("bytes_written", 0) for s in commits) / n, "B")
    m["catalog.commit.files"] = (sum(s.get("files", 0) for s in commits) / n,
                                 "count")
    for r in ROLLUPS:
        m[f"tiers.{r}.exec_s"] = (total(f"tiers.{r}.exec"), "s")
        m[f"tiers.{r}.shuffle_write_bytes"] = (
            counter(f"tiers.{r}.exec", "shuffle_write_bytes"), "B")
        m[f"tiers.{r}.spill_bytes"] = (counter(f"tiers.{r}.exec", "spill_bytes"), "B")

    m["incremental.read_tier_latest.exec_s"] = (
        total("incremental.read_tier_latest.exec"), "s")
    restated = [s.get("rows", 0) for s in commits
                if s.get("table", "").startswith("tier_")]
    m["incremental.touched_buckets"] = (sum(
        s.get("rows", 0) for s in commits if s.get("table") == "tier_1m") / n,
        "count")
    new_rows = wl.new_raw_rows() * n
    m["incremental.restated_rows_per_new_row"] = (
        sum(restated) / new_rows if new_rows else 0.0, "ratio")
    cat = getattr(wl, "catalog", None)
    m["catalog.snapshots_live"] = (float(sum(
        len(cat.snapshots(t)) for t in cat._load()["tables"])) if cat else 0.0,
        "count")

    routes = by.get("router.route_from_catalog", [])
    plan = [dur(s) - sum(dur(d) for d in subtree(s) if d["name"].endswith(".exec"))
            for s in routes]
    m["router.route_from_catalog.plan_ms"] = (_median(plan) * 1e3, "ms")
    m["router.exec_ms"] = (_median([dur(s) for s in by.get("router.exec", ())])
                           * 1e3, "ms")
    ranges = by.get("catalog.read_range", [])
    live = sum(s["snapshots_live"] for s in ranges)
    m["catalog.read_range.snapshots_read_ratio"] = (
        sum(s["snapshots_read"] for s in ranges) / live if live else 0.0, "ratio")
    for t in ("1m", "1h", "1d"):
        m[f"router.served_by.{t}"] = (
            sum(s.get("served_by") == t for s in routes) / n, "count")

    for d in DETECTORS:
        name = f"detectors.{d}"
        m[f"{name}.s"] = (total(name), "s")
        m[f"{name}.stages"] = (counter(name, "stages"), "count")
        m[f"{name}.shuffle_write_bytes"] = (counter(name, "shuffle_write_bytes"), "B")
    for name in OPERATORS:
        m[f"{name}.s"] = (total(name), "s")

    roots = [s for s in spans if s["parent"] is None]
    wall = sum(dur(s) for s in roots)
    for field, unit in (("jobs", "count"), ("stages", "count"),
                        ("tasks", "count"), ("failed_tasks", "count"),
                        ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
                        ("gc_s", "s")):
        m[f"spark.{field}"] = (sum(spark(s, field) for s in roots) / n, unit)
    run_s = sum(spark(s, "executor_run_s") for s in roots)
    m["spark.busy_ratio"] = (run_s / (wall * cores) if wall else 0.0, "ratio")
    m["host.steal_s"] = (steal / n, "s")
    m["host.peak_rss_mb"] = (rss_mb, "MB")
    m["failed_ops_ratio"] = (wl.failed / wl.attempted, "ratio")
    serve = wl.extra()  # untraced latencies (append_serve only)
    for k in ("refresh_p50_ms", "query_p50_ms", "query_p90_ms"):
        m[k] = (serve.get(k, 0.0), "ms")
    m["trace.overhead_s"] = (_median(traced) - _median(plain), "s")
    # share of the timed region inside package-boundary spans (the
    # outermost ones, so nested layers count once)
    attributed = sum(dur(s) for s in spans if layer(s) and not in_layer(s))
    m["trace.attributed_ratio"] = (attributed / wall if wall else 0.0, "ratio")
    return m
