"""Mergeable quantile sketch (t-digest) as a storable tier column.

Why this exists: the exact-parity tier path recomputes quantiles from
the finer tier's points (plans/tiers.py), and Spark's built-in
``approx_percentile`` is mergeable only *inside* one aggregation — it
cannot persist its sketch state into a tier table and re-merge it in a
later job. At 100 TB the 1d tier's raw-distribution quantile must not
re-scan raw, so each tier row carries a fixed-size t-digest
(``struct<means:array<double>, weights:array<double>>``, <= ``delta``
centroids) that coarser tiers merge algebraically: concat + one
vectorized re-compress. Rank error is O(1/delta), tighter at the tails
(asin scale function), independent of how many levels merged.

Implementation is the bin-assignment variant of the merging t-digest
(Dunning & Ertl, "Computing extremely accurate quantiles using
t-digests", arXiv:1902.04023): sort centroids, map midpoint ranks
through k(q) = delta/(2*pi) * (asin(2q-1) + pi/2), reduce equal k-bins
with ``np.add.reduceat`` — one fully vectorized pass, deterministic for
a given input multiset (sort is by mean, so merge order only permutes
exact ties, which reduce to the same bin sums).

All UDFs are Arrow-batched ``pandas_udf``s over array columns — the
per-bucket value arrays the exact path already materializes — so the
sketch rides the existing one-shuffle-per-tier plan.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

DIGEST_TYPE = "struct<means:array<double>,weights:array<double>>"
#: the compression of every stored digest: <= 200 centroids a tier row
DEFAULT_DELTA = 200


def _k_bins(qmid: np.ndarray, delta: int) -> np.ndarray:
    """Scale-function bin id for each centroid midpoint rank in [0,1]."""
    k = delta / (2.0 * math.pi) * (np.arcsin(2.0 * qmid - 1.0) + math.pi / 2.0)
    return np.minimum(np.floor(k), delta - 1).astype(np.int64)


def compress(means: np.ndarray, weights: np.ndarray, delta: int) -> tuple[np.ndarray, np.ndarray]:
    """Merge weighted points into <= delta centroids (one vector pass)."""
    if means.size == 0:
        return means, weights
    order = np.argsort(means, kind="stable")
    m, w = means[order], weights[order]
    total = w.sum()
    qmid = (np.cumsum(w) - 0.5 * w) / total
    bins = _k_bins(qmid, delta)
    starts = np.concatenate([[0], np.flatnonzero(np.diff(bins)) + 1])
    new_w = np.add.reduceat(w, starts)
    new_m = np.add.reduceat(m * w, starts) / new_w
    return new_m, new_w


def digest_quantile_np(
    means: np.ndarray, weights: np.ndarray, q: float,
    vmin: float, vmax: float,
) -> float:
    """Estimate the q-quantile from centroid midpoints, interpolating to
    the exact vmin/vmax the tier row already carries at the tails."""
    if means.size == 0:
        return math.nan
    total = weights.sum()
    cum = np.cumsum(weights) - 0.5 * weights
    target = q * total
    xs = np.concatenate([[0.0], cum, [total]])
    ys = np.concatenate([[vmin], means, [vmax]])
    return float(np.interp(target, xs, ys))


# pandas_udf parses its DDL return type against the active session, so
# the UDF objects are built lazily at first call, not at module import
_UDFS: dict[str, object] = {}


def _udf(name: str):
    if name in _UDFS:
        return _UDFS[name]

    def digest_of_arr(arrs: pd.Series, deltas: pd.Series) -> pd.DataFrame:
        ms, ws = [], []
        for a, d in zip(arrs, deltas):
            v = np.asarray(a, dtype=float)
            v = v[~np.isnan(v)]
            m, w = compress(v, np.ones_like(v), int(d))
            ms.append(m.tolist())
            ws.append(w.tolist())
        return pd.DataFrame({"means": ms, "weights": ws})

    def merge_digest_lists(digest_lists: pd.Series, deltas: pd.Series) -> pd.DataFrame:
        ms, ws = [], []
        for ds, d in zip(digest_lists, deltas):
            m = np.concatenate([np.asarray(x["means"], dtype=float) for x in ds])
            w = np.concatenate([np.asarray(x["weights"], dtype=float) for x in ds])
            m, w = compress(m, w, int(d))
            ms.append(m.tolist())
            ws.append(w.tolist())
        return pd.DataFrame({"means": ms, "weights": ws})

    def quantile_of_digest(
        digests: pd.DataFrame, qs: pd.Series, vmins: pd.Series, vmaxs: pd.Series
    ) -> pd.Series:
        # a top-level struct arg arrives as a DataFrame with one column
        # per field (Arrow struct -> pandas convention)
        out = []
        for m, w, q, lo, hi in zip(digests["means"], digests["weights"],
                                   qs, vmins, vmaxs):
            if m is None:
                out.append(math.nan)
                continue
            out.append(digest_quantile_np(
                np.asarray(m, dtype=float),
                np.asarray(w, dtype=float),
                float(q), float(lo), float(hi),
            ))
        return pd.Series(out, dtype=float)

    _UDFS["digest_of_arr"] = F.pandas_udf(digest_of_arr, DIGEST_TYPE)
    _UDFS["merge_digest_lists"] = F.pandas_udf(merge_digest_lists, DIGEST_TYPE)
    _UDFS["quantile_of_digest"] = F.pandas_udf(quantile_of_digest, "double")
    return _UDFS[name]


def digest_of_sorted_arr(arr):
    """Digest column from a per-bucket value array (need not be sorted)."""
    return _udf("digest_of_arr")(arr, F.lit(DEFAULT_DELTA))


def merge_digests(digest_list):
    """Digest column merging an array<digest> (from collect_list)."""
    return _udf("merge_digest_lists")(digest_list, F.lit(DEFAULT_DELTA))


def digest_quantile(digest, q: float, vmin, vmax):
    """Scalar quantile estimate read off a digest column."""
    return _udf("quantile_of_digest")(digest, F.lit(float(q)), vmin, vmax)
