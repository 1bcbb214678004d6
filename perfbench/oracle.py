"""Independent answers to check the package's outputs against.

Routed-read answers come from DuckDB over the generated raw parquet
files. Detector, window, drift, gap-fill and event answers come
from numpy over the generated series of a fixed sample of sources. None
of this imports the package. Each check returns a list of mismatch
strings; an empty list means the output is correct.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
from numpy.lib.stride_tricks import sliding_window_view

MINUTE_US = 60_000_000


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 2")
    return con


def _files(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


# -- routed reads ------------------------------------------------------------

def check_read(con, raw_paths: list[str], res_s: int, start_us: int,
               end_us: int, got) -> list[str]:
    """A routed answer (pandas) against raw aggregated at the same
    resolution over the same range."""
    w = res_s * 1_000_000
    want = con.execute(f"""
        SELECT source, (epoch_us(ts) // {w}) * {w} AS b, count(*) AS cnt,
               min(n_tok)::DOUBLE AS vmin, max(n_tok)::DOUBLE AS vmax,
               sum(n_tok)::DOUBLE AS vsum
        FROM read_parquet({_files(raw_paths)})
        WHERE epoch_us(ts) >= {start_us} AND epoch_us(ts) < {end_us}
        GROUP BY ALL""").fetchdf()
    con.register("got_read", got.assign(
        b=got["bucket_ts"].values.astype("datetime64[us]").astype(np.int64)))
    con.register("want_read", want)
    try:
        n = con.execute("""
            SELECT count(*) FROM got_read g FULL OUTER JOIN want_read e
              USING (source, b)
            WHERE g.cnt IS DISTINCT FROM e.cnt OR g.vmin IS DISTINCT FROM e.vmin
               OR g.vmax IS DISTINCT FROM e.vmax OR g.vsum IS DISTINCT FROM e.vsum
               OR g.mean IS NULL
               OR abs(g.mean - e.vsum / e.cnt) > 1e-12 * abs(g.mean)""").fetchone()[0]
    finally:
        con.unregister("got_read")
        con.unregister("want_read")
    return [f"read res={res_s}s [{start_us}, {end_us}): {n} rows differ"] if n else []


# -- detect ------------------------------------------------------------------

def q7(sorted_vals: np.ndarray, p: float) -> float:
    """Type-7 quantile with the package's association
    ``lo * (1 - frac) + hi * frac``."""
    n = sorted_vals.size
    if n == 0:
        return math.nan
    pos = p * (n - 1.0)
    i = math.floor(pos)
    frac = pos - i
    lo = sorted_vals[i]
    if frac == 0.0:
        return float(lo)
    return float(lo * (1.0 - frac) + sorted_vals[min(i + 1, n - 1)] * frac)


def _frames(v: np.ndarray, lo: int, hi: int, fn) -> np.ndarray:
    """fn over each row frame [i+lo, i+hi]; NaN where the frame is not
    complete (min_periods = frame length)."""
    n, w = v.size, hi - lo + 1
    out = np.full(n, np.nan)
    if n >= w:
        vals = fn(sliding_window_view(v, w))
        rows = np.arange(vals.size) - lo  # frame k starts at row k
        keep = (rows >= 0) & (rows < n)
        out[rows[keep]] = vals[keep]
    return out


def _median(win):
    return np.median(win, axis=1)


def _std(win):
    return np.std(win, axis=1, ddof=1)


def _mean(win):
    return np.mean(win, axis=1)


def _rel_dist(x, bound):
    if math.isinf(bound):
        return np.full(x.shape, math.inf)
    return np.abs(x - bound) / max(1.0, abs(bound))


def _bound_labels(mag, lo, hi):
    """(label, margin): label of the threshold rule, and the relative
    distance to the nearer bound, used to skip points that tie within
    rounding."""
    label = np.where(np.isnan(mag), np.nan, ((mag > hi) | (mag < lo)).astype(float))
    return label, np.minimum(_rel_dist(mag, lo), _rel_dist(mag, hi))


def _iqr_bounds(mag, c_lo, c_hi):
    s = np.sort(mag[~np.isnan(mag)])
    q1, q3 = q7(s, 0.25), q7(s, 0.75)
    iqr = q3 - q1
    lo = q1 - iqr * c_lo if c_lo is not None else -math.inf
    hi = q3 + iqr * c_hi if c_hi is not None else math.inf
    return lo, hi


def persist(v, window, c):
    diff = v - _frames(v, -window, -1, _median)
    return _bound_labels(np.abs(diff), *_iqr_bounds(np.abs(diff), None, c))


def level_shift(v, window, c):
    diff = _frames(v, 0, window - 1, _median) - _frames(v, -window, -1, _median)
    return _bound_labels(np.abs(diff), *_iqr_bounds(np.abs(diff), None, c))


def volatility_shift(v, window, c):
    left = _frames(v, -window, -1, _std)
    mag = np.abs(_frames(v, 0, window - 1, _std) - left) / left
    return _bound_labels(mag, *_iqr_bounds(mag, None, c))


def quantile_bounds(v, low, high):
    s = np.sort(v)
    return _bound_labels(v, q7(s, low), q7(s, high))


def iqr_bounds(v, c):
    return _bound_labels(v, *_iqr_bounds(v, c, c))


def rolling_median(v, window):
    half = (window - 1) // 2
    return _frames(v, -(window - 1) + half, half, _median)


def double_rolling_l1(v, window):
    return np.abs(_frames(v, 0, window - 1, _mean) - _frames(v, -window, -1, _mean))


def _bins(v, edges):
    return sum((v >= e).astype(int) for e in edges)


def drift(t, v, split_us, edges, eps=1e-6) -> dict:
    """n_ref, n_cur, psi, ks and jsd of one source, each score rounded
    to 6 decimals as the package reports it (None where undefined)."""
    ref, cur = v[t < split_us], v[t >= split_us]
    n_ref, n_cur = ref.size, cur.size
    psi = jsd = 0.0
    br, bc = _bins(ref, edges), _bins(cur, edges)
    for b in np.unique(np.concatenate([br, bc])):
        cr, cc = int((br == b).sum()), int((bc == b).sum())
        p = eps if n_ref == 0 else max(cr / n_ref, eps)
        q = eps if n_cur == 0 else max(cc / n_cur, eps)
        psi += (p - q) * math.log(p / q)
        p = 0.0 if n_ref == 0 else cr / n_ref
        q = 0.0 if n_cur == 0 else cc / n_cur
        m = (p + q) * 0.5
        jsd += (0.5 * p * math.log(p / m) if p > 0 else 0.0) + \
               (0.5 * q * math.log(q / m) if q > 0 else 0.0)
    out = {"n_ref": n_ref, "n_cur": n_cur, "psi": round(psi, 6),
           "ks": None, "jsd": None}
    if n_ref and n_cur:
        vals = np.unique(v)
        rc = np.searchsorted(np.sort(ref), vals, side="right")
        cc = np.searchsorted(np.sort(cur), vals, side="right")
        gap = max(abs(int(a) * n_cur - int(b) * n_ref) for a, b in zip(rc, cc))
        out["ks"] = round(gap / (n_ref * n_cur), 6)
        out["jsd"] = round(jsd, 6)
    return out


def spine(t, v):
    """Minute spine from first to last point: (ts, value with NaN gaps)."""
    grid = np.arange(t[0], t[-1] + 1, MINUTE_US)
    out = np.full(grid.size, np.nan)
    out[(t - t[0]) // MINUTE_US] = v
    return grid, out


def ffill(v):
    idx = np.where(~np.isnan(v), np.arange(v.size), -1)
    np.maximum.accumulate(idx, out=idx)
    return np.where(idx >= 0, v[np.maximum(idx, 0)], np.nan)


def lerp(t, v):
    out = v.copy()
    known = np.flatnonzero(~np.isnan(v))
    for i in np.flatnonzero(np.isnan(v)):
        k = np.searchsorted(known, i)
        if k == 0:
            continue  # leading gap stays NULL
        p = known[k - 1]
        if k == known.size:
            out[i] = v[p]  # trailing gap carries the last value
            continue
        n = known[k]
        out[i] = v[p] + (v[n] - v[p]) * float(t[i] - t[p]) / float(t[n] - t[p])
    return out


def events(t, label, freq_us=MINUTE_US):
    """Runs of consecutive rows labelled 1 -> (start_us, end_us)."""
    out, start = [], None
    for i, lab in enumerate(label):
        if lab == 1.0:
            if start is None:
                start = i
        elif start is not None:
            out.append((int(t[start]), int(t[i - 1]) + freq_us - 1))
            start = None
    if start is not None:
        out.append((int(t[start]), int(t[-1]) + freq_us - 1))
    return out


def compare(name, got, want, *, tol=0.0, margin=None, skip=1e-9):
    """Arrays equal (NaN == NaN) within ``tol`` relative; points whose
    ``margin`` to a decision bound is under ``skip`` relative are
    ambiguous under rounding and not compared."""
    got, want = np.asarray(got, float), np.asarray(want, float)
    if got.shape != want.shape:
        return [f"{name}: {got.size} rows, expected {want.size}"]
    ok = (np.isnan(got) & np.isnan(want)) | (
        np.abs(got - want) <= tol * np.maximum(1.0, np.abs(want)))
    if margin is not None:
        ok |= margin <= skip
    n = int((~ok).sum())
    return [f"{name}: {n} of {got.size} values differ"] if n else []
