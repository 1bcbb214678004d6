"""The two workloads: append_serve and detect.

Each workload is a closed loop with one client: every call into the
package waits for the previous one. A workload has

- ``setup(rep)``: input generation and base build, timed by the runner
  and repeated so ``setup_s`` is a median;
- ``warmup()``: untimed work on the same code paths, so JIT and codegen
  caches are warm before timing;
- ``iteration(i)``: one timed unit of work inside an ``<name>.iteration``
  span; returns its seconds;
- ``check()``: correctness of every timed output, outside timing.

Calls into the package go through module attributes (``inc.refresh_tiers``,
``router.route_from_catalog``, ...) so the tracer can wrap them.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import time
import traceback
from typing import Callable, NamedTuple

import duckdb
import numpy as np
from adtk_spark.functions import windows as win
from adtk_spark.operators import detectors as det
from adtk_spark.operators import events as ev
from adtk_spark.plans import gapfill as gf
from adtk_spark.plans import incremental as inc
from adtk_spark.plans import router, tiers
from adtk_spark.sources.catalog import TierCatalog

import gen
import oracle

DAY_S = 86_400
HOUR_S = 3_600
TABLES = {"1m": "tier_1m", "1h": "tier_1h", "1d": "tier_1d"}


def _ts(epoch_s: int) -> dt.datetime:
    return dt.datetime(2025, 1, 1) + dt.timedelta(seconds=epoch_s)


class Workload:
    name = ""
    UNITS = 1  # timed units per run, at least

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.attempted = 0
        self.failures: dict[tuple, str] = {}  # op key -> first problem
        self.op_s: dict[str, list[float]] = {}  # span name -> durations
        self.con = oracle.connect(os.path.join(work, "tmp"))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, key: tuple, span: str, fn, *a, **kw):
        """One counted operation inside a span. An exception marks the
        operation ``key`` failed and returns None."""
        self.attempted += 1
        t0 = time.perf_counter()
        with self.tracer.span(span):
            try:
                return fn(*a, **kw)
            except Exception as e:  # keep measuring; report the failure
                self.fail(key, f"{type(e).__name__}: {e}")
                traceback.print_exc(file=sys.stderr)
                return None
            finally:
                self.op_s.setdefault(span, []).append(time.perf_counter() - t0)

    def fail(self, key: tuple, msg: str) -> None:
        """Mark operation ``key`` failed or wrong (once per operation)."""
        self.failures.setdefault(key, f"{key}: {msg}"[:300])

    @property
    def failed(self) -> int:
        return len(self.failures)

    def commit_raw(self, catalog, parquet: str) -> int:
        return catalog.commit(self.spark.read.parquet(parquet), "raw")

    def extra(self) -> dict:
        """Workload-specific figures for the report."""
        return {}

    def storage_ratio(self) -> float:
        """Tier and lineage bytes per byte of raw input."""
        return _catalog_bytes(self.catalog.root) / _bytes(self.raw_paths)


class AppendServe(Workload):
    """Rounds of (commit a 1% raw append covering the next hour, refresh
    the tiers, serve a seeded batch of routed reads) over a base catalog
    built in setup."""

    name = "append_serve"
    UNITS = 2
    N_BASE = 20_000  # each round appends 1% of it
    SPAN_S = 7 * DAY_S
    BURST = (3 * DAY_S + 12 * HOUR_S, 3 * DAY_S + 18 * HOUR_S)
    # (resolution, range): dashboard-sized answers from every tier; each
    # timed round reads all of them
    MIX = [(60, HOUR_S), (60, 6 * HOUR_S), (300, DAY_S), (900, DAY_S),
           (3600, DAY_S), (3600, 7 * DAY_S), (21600, 7 * DAY_S),
           (86400, 7 * DAY_S)]

    def setup(self, rep: int) -> None:
        base = self.path("base.parquet")
        gen.write(gen.docs(self.seed, self.N_BASE, stream=0, first_id=0,
                           t0_s=0, span_s=self.SPAN_S, burst=self.BURST), base)
        self.catalog = TierCatalog(self.path(f"catalog{rep}"))
        self.commit_raw(self.catalog, base)
        self.raw_paths = [base]
        self.reads: list[tuple] = []
        self.refresh_s: list[float] = []
        self.read_s: list[float] = []

    def warmup(self) -> None:
        """The base tiers (a full refresh), then round 0 with a read
        served by each tier; its reads are checked like the timed ones."""
        inc.refresh_tiers(self.catalog, self.spark)
        self.round(0, reads=[0, 4, 7])
        self.warm_reads, self.reads = self.reads, []
        self.refresh_s.clear()
        self.read_s.clear()

    def iteration(self, i: int) -> float:
        return self.round(i + 1)

    def round(self, k: int, reads=None) -> float:
        """Round ``k``: append, refresh, then one read per listed mix
        entry (by default all of them, so every seed reads the same mix;
        the ranges are seeded)."""
        n_append = self.new_raw_rows()
        app = self.path(f"append{k}.parquet")
        t_lo = self.SPAN_S + k * HOUR_S
        gen.write(gen.docs(self.seed, n_append, stream=1 + k,
                           first_id=self.N_BASE + k * n_append,
                           t0_s=t_lo, span_s=HOUR_S), app)
        self.raw_paths.append(app)
        visible = list(self.raw_paths)
        rng = np.random.default_rng([self.seed, 7, k])
        with self.tracer.span(f"{self.name}.iteration"):
            t0 = time.perf_counter()
            self.op(("commit", k), "op.commit_raw", self.commit_raw,
                    self.catalog, app)
            self.op(("refresh", k), "op.refresh", inc.refresh_tiers,
                    self.catalog, self.spark)
            if not self.tracer.active:  # latencies are taken untraced
                self.refresh_s.append(time.perf_counter() - t0)
            data_end = t_lo + HOUR_S
            for j, m in enumerate(reads or range(len(self.MIX))):
                res, span = self.MIX[m]
                end = -(-data_end // res) * res  # the latest window
                if j % 2:  # or a seeded window anywhere in history
                    end = int(rng.integers(span // res, end // res + 1)) * res
                start = end - span
                key = ("read", k, j)
                r0 = time.perf_counter()
                got = self.op(key, "op.read", self.read, router, res, start, end)
                if not self.tracer.active:
                    self.read_s.append(time.perf_counter() - r0)
                if got is not None:
                    self.reads.append((key, visible, res, start, end, got))
            return time.perf_counter() - t0

    def read(self, router, res: int, start: int, end: int):
        df = router.route_from_catalog(self.spark, self.catalog, TABLES, res,
                                       _ts(start), _ts(end))
        with self.tracer.span("router.exec"):
            return df.toPandas()

    def new_raw_rows(self) -> int:
        return self.N_BASE // 100

    def points_per_s(self, median_s: float) -> float:
        return self.new_raw_rows() / float(np.median(self.refresh_s))

    def check(self) -> None:
        e0 = gen.EPOCH_US
        for key, visible, res, start, end, got in self.warm_reads + self.reads:
            bad = oracle.check_read(self.con, visible, res,
                                    e0 + start * 1_000_000,
                                    e0 + end * 1_000_000, got)
            if bad:
                self.fail(key, "; ".join(bad))

    def extra(self) -> dict:
        q = np.percentile(self.read_s, [50, 90]) * 1e3
        return {"refresh_p50_ms": float(np.median(self.refresh_s)) * 1e3,
                "query_p50_ms": float(q[0]), "query_p90_ms": float(q[1]),
                "reads": len(self.read_s)}


class Op(NamedTuple):
    """One detect operator: its span name, how to build it from the
    series frame, the output column checked, the oracle over one
    source's sorted (ts_us, value) arrays and the relative tolerance.
    Row oracles return (values, margin to a decision bound or None);
    per-source oracles (drift) return a dict holding ``column``."""

    name: str
    build: Callable
    column: str
    oracle: Callable
    tol: float = 0.0
    per_source: bool = False


class Detect(Workload):
    """The detector, window, drift, gap-fill and event operators over a
    generated minute series, each output written to parquet."""

    name = "detect"
    UNITS = 3  # the median drops a pass still slowed by the JIT or host load
    N_POINTS = 30_000
    SPLIT_MIN = 90  # drift split: short series have no current window
    EDGES = [60.0, 80.0, 100.0, 120.0, 140.0]
    SAMPLE = [f"src{k}" for k in range(0, 256, 8)]

    def ops(self) -> list[Op]:
        split = _ts(self.SPLIT_MIN * 60)
        split_us = gen.EPOCH_US + self.SPLIT_MIN * oracle.MINUTE_US

        def drift(t, v):
            return oracle.drift(t, v, split_us, self.EDGES)

        return [
            Op("detectors.persist_ad", lambda s: det.persist_ad(s, window=3, c=3.0),
               "label", lambda t, v: oracle.persist(v, 3, 3.0)),
            Op("detectors.level_shift_ad",
               lambda s: det.level_shift_ad(s, window=5, c=6.0),
               "label", lambda t, v: oracle.level_shift(v, 5, 6.0)),
            Op("detectors.volatility_shift_ad",
               lambda s: det.volatility_shift_ad(s, window=10, c=6.0),
               "label", lambda t, v: oracle.volatility_shift(v, 10, 6.0)),
            Op("detectors.quantile_ad",
               lambda s: det.quantile_ad(s, low=0.01, high=0.99),
               "label", lambda t, v: oracle.quantile_bounds(v, 0.01, 0.99)),
            Op("detectors.iqr_ad", lambda s: det.iqr_ad(s, c=1.5),
               "label", lambda t, v: oracle.iqr_bounds(v, 1.5)),
            Op("windows.rolling_agg",
               lambda s: win.rolling_agg(s, 7, "median", center=True),
               "value_roll", lambda t, v: (oracle.rolling_median(v, 7), None)),
            Op("windows.double_rolling_agg",
               lambda s: win.double_rolling_agg(s, 5, "mean", diff="l1"),
               "value_droll", lambda t, v: (oracle.double_rolling_l1(v, 5), None),
               tol=1e-9),
            Op("tiers.psi_drift", lambda s: tiers.psi_drift(s, split, self.EDGES),
               "psi", drift, tol=2e-6, per_source=True),
            Op("tiers.ks_drift", lambda s: tiers.ks_drift(s, split),
               "ks", drift, tol=2e-6, per_source=True),
            Op("tiers.js_drift", lambda s: tiers.js_drift(s, split, self.EDGES),
               "jsd", drift, tol=2e-6, per_source=True),
            Op("gapfill.forward_fill",
               lambda s: gf.forward_fill(gf.time_spine(s, "1min")),
               "value_ff", lambda t, v: (oracle.ffill(oracle.spine(t, v)[1]), None)),
            Op("gapfill.interpolate_linear",
               lambda s: gf.interpolate_linear(gf.time_spine(s, "1min")),
               "value_lerp", lambda t, v: (oracle.lerp(*oracle.spine(t, v)), None),
               tol=1e-9),
        ]

    def setup(self, rep: int) -> None:
        self.series = self.path("series.parquet")
        self.table = gen.minute_series(self.seed, self.N_POINTS)
        gen.write(self.table, self.series)
        self.passes: list[tuple[int, str]] = []

    def n_ops(self) -> int:
        return len(self.ops()) + 1  # + to_events

    def warmup(self) -> None:
        """One untimed, unchecked pass over the series (on 4 vCPUs it
        takes about twice as long as a later pass: the JIT compiles)."""
        self.run_pass(self.series, self.path("warm_out"), None)

    def iteration(self, i: int) -> float:
        out = self.path(f"pass{i}")
        with self.tracer.span(f"{self.name}.iteration"):
            t0 = time.perf_counter()
            self.run_pass(self.series, out, i)
            self.passes.append((i, out))
            return time.perf_counter() - t0

    def run_pass(self, series: str, out: str, i: int | None) -> None:
        """All operators once, then to_events over persist_ad's labels;
        ``i`` None is the uncounted warm-up."""
        s = self.spark.read.parquet(series)

        def run(name, build):
            def write():
                build().write.mode("overwrite").parquet(os.path.join(out, name))
            if i is None:
                try:
                    write()
                except Exception:  # a timed pass counts the failure
                    pass
            else:
                self.op((i, name), name, write)

        for op in self.ops():
            run(op.name, lambda b=op.build: b(s))
        labels = os.path.join(out, "detectors.persist_ad")
        run("events.to_events",
            lambda: ev.to_events(self.spark.read.parquet(labels), freq="1min"))

    def new_raw_rows(self) -> int:
        return 0

    def points_per_s(self, median_s: float) -> float:
        return self.table.num_rows * self.n_ops() / median_s

    def _read(self, out: str, name: str, cols: str, order: str = ""):
        """Rows of the sampled sources from one operator's output."""
        src = ", ".join(f"'{s}'" for s in self.SAMPLE)
        return self.con.execute(
            f"SELECT {cols} FROM read_parquet('{os.path.join(out, name, '*.parquet')}')"
            f" WHERE source IN ({src}) {order}").fetchdf()

    def check(self) -> None:
        ops = self.ops()
        want = self._expected(ops)
        for i, out in self.passes:
            for op in ops:
                try:
                    if op.per_source:
                        got = self._read(out, op.name, f"source, n_ref, n_cur, {op.column}")
                        bad = self._compare_sources(op, got, want[op.name])
                    else:
                        got = self._read(out, op.name, f"{op.column} AS x",
                                         "ORDER BY source, ts")
                        x, margin = want[op.name]
                        bad = oracle.compare(op.name, got["x"], x, tol=op.tol,
                                             margin=margin)
                except duckdb.Error as e:  # no output: the op failed
                    bad = [str(e)]
                for msg in bad:
                    self.fail((i, op.name), msg)
            try:
                bad = self._check_events(out)
            except duckdb.Error as e:
                bad = [str(e)]
            for msg in bad:
                self.fail((i, "events.to_events"), msg)

    def _expected(self, ops: list[Op]) -> dict:
        """Oracle answers for the sampled sources, rows concatenated in
        (source, ts) order."""
        t_all = self.table.column("ts").cast("int64").to_numpy()
        v_all = self.table.column("value").to_numpy()
        s_all = self.table.column("source").to_numpy(zero_copy_only=False)
        rows: dict[str, list] = {op.name: [] for op in ops}
        per_source: dict[str, dict] = {op.name: {} for op in ops}
        for src in sorted(self.SAMPLE):
            m = s_all == src
            order = np.argsort(t_all[m], kind="stable")
            t, v = t_all[m][order], v_all[m][order]
            for op in ops:
                if op.per_source:
                    per_source[op.name][src] = op.oracle(t, v)
                else:
                    rows[op.name].append(op.oracle(t, v))
        out = {}
        for op in ops:
            if op.per_source:
                out[op.name] = per_source[op.name]
            else:
                xs, margins = zip(*rows[op.name])
                out[op.name] = (np.concatenate(xs), None if margins[0] is None
                                else np.concatenate(margins))
        return out

    def _compare_sources(self, op: Op, got, want: dict) -> list[str]:
        n_wrong = len(want) - len(got)
        for row in got.itertuples(index=False):
            w, x = want[row.source], getattr(row, op.column)
            x = None if x is None or np.isnan(x) else x
            if (row.n_ref, row.n_cur) != (w["n_ref"], w["n_cur"]) or (
                    (x is None) != (w[op.column] is None)) or (
                    x is not None and abs(x - w[op.column]) > op.tol):
                n_wrong += 1
        return [f"{op.name}: {n_wrong} sources differ"] if n_wrong else []

    def _check_events(self, out: str) -> list[str]:
        """to_events against runs of consecutive 1-labels in the
        persist_ad output it was given."""
        labels = self._read(out, "detectors.persist_ad",
                            "source, epoch_us(ts) AS t, label", "ORDER BY source, ts")
        want = set()
        for src, g in labels.groupby("source"):
            want |= {(src, *e) for e in oracle.events(g["t"].to_numpy(),
                                                      g["label"].to_numpy())}
        got = self._read(out, "events.to_events",
                         "source, epoch_us(start_ts) AS s, epoch_us(end_ts) AS e")
        got = set(got.itertuples(index=False, name=None))
        if got != want:
            return [f"events.to_events: {len(got ^ want)} events differ"]
        return []

    def storage_ratio(self) -> float:
        """Bytes one pass writes per byte of input series."""
        return _catalog_bytes(self.passes[-1][1]) / _bytes([self.series])


WORKLOADS = {w.name: w for w in (AppendServe, Detect)}


def _bytes(paths: list[str]) -> int:
    return sum(os.path.getsize(p) for p in paths)


def _catalog_bytes(root: str) -> int:
    """Bytes under ``root`` outside its ``raw`` table: tier tables and
    lineage for a catalog, every output for a detect pass."""
    total = 0
    for dirpath, _, names in os.walk(root):
        rel = os.path.relpath(dirpath, root).split(os.sep)[0]
        if rel != "raw":
            total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    return total
