"""Multivariate (HD) operators over wide tables.

Input shape: one row per (source, ts) with k feature columns — the
Spark analogue of the reference's multivariate DataFrame. Parity
targets: /root/reference/src/adtk/transformer/_transformer_hd.py and
detector/_detector_hd.py.

Fits collect per-source sufficient statistics (or run small numpy
solves per source in a grouped-map UDF); predicts are column
expressions after a broadcast join — rows with any NULL feature yield
NULL outputs (the reference's dropna semantics, _transformer_hd.py:160-180).

The correlation and Hurst operators take their sums, Pearson r and OLS
slope from ``functions/exact.py``, so their results do not depend on
partitioning.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import (
    exact_sum,
    ols_slope,
    ols_sums,
    pearson_r,
    pearson_sums,
)
from .detectors import _as_double, _compound_fit_detect


def _require_feature_cols(df: DataFrame, features: list[str]) -> None:
    """Train/test consistency guard — parity with the reference's
    ValueError when a predict-time frame lacks the columns the model was
    trained on (tests/test_inconsistent_train_test.py; extra or
    reordered columns are fine, missing ones are not)."""
    missing = [c for c in features if c not in df.columns]
    if missing:
        raise ValueError(
            "The model was trained by a pandas DataFrame with columns "
            f"{list(features)}, but these are missing from the input: "
            f"{missing}"
        )


def _any_null(cols: list[str]) -> Column:
    expr = F.lit(False)
    for c in cols:
        expr = expr | F.col(c).isNull()
    return expr


def regression_residual_fit(
    train: DataFrame,
    target: str,
    features: list[str],
    *,
    source_col: str = "source",
) -> DataFrame:
    """RegressionResidual fit with the default LinearRegression
    (_transformer_hd.py:144-158): closed-form OLS per source on the
    dropna rows. Returns (source, intercept, coefs array<double>); a
    source without a valid row gets NULLs (``require_fit`` names it)."""

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        sub = pdf[[target] + features].dropna()
        src = pdf[source_col].iloc[0]
        if sub.empty:  # NULL model row: NULL residuals, flagged by require_fit
            return pd.DataFrame({source_col: [src], "intercept": [None], "coefs": [None]})
        X = np.column_stack([sub[features].values, np.ones(len(sub))])
        beta, *_ = np.linalg.lstsq(X, sub[target].values, rcond=None)
        return pd.DataFrame(
            {source_col: [src], "intercept": [beta[-1]], "coefs": [list(beta[:-1])]}
        )

    schema = f"{source_col} string, intercept double, coefs array<double>"
    return train.groupBy(source_col).applyInPandas(fit, schema=schema)


def regression_residual(
    df: DataFrame,
    model: DataFrame,
    target: str,
    features: list[str],
    *,
    source_col: str = "source",
    out_col: str = "residual",
) -> DataFrame:
    _require_feature_cols(df, [target] + features)
    joined = df.join(F.broadcast(model), on=source_col, how="left")
    pred = F.col("intercept")
    for i, c in enumerate(features):
        pred = pred + F.element_at(F.col("coefs"), i + 1) * F.col(c)
    resid = F.when(_any_null([target] + features), F.lit(None)).otherwise(
        F.col(target) - pred
    )
    return joined.withColumn(out_col, resid).drop("intercept", "coefs")


def regression_ad(
    df: DataFrame,
    target: str,
    features: list[str],
    c: float = 3.0,
    side: str = "both",
    *,
    source_col: str = "source",
    out_col: str = "label",
) -> DataFrame:
    """RegressionAD (_detector_hd.py:196-327): residual -> |residual|
    IQR rule AND sign rule (fit_detect on one table)."""
    model = regression_residual_fit(df, target, features, source_col=source_col)
    resid = regression_residual(df, model, target, features,
                                source_col=source_col, out_col="_diff")
    resid = resid.withColumn("_mag", F.abs(F.col("_diff")))
    return _compound_fit_detect(resid, (None, c), side, source_col=source_col,
                                ts_col=None, out_col=out_col)


# ---------------------------------------------------------------------------
# PCA family
# ---------------------------------------------------------------------------

def pca_fit(
    train: DataFrame,
    features: list[str],
    k: int = 1,
    *,
    source_col: str = "source",
) -> DataFrame:
    """PcaProjection fit (_transformer_hd.py:205-209): per-source PCA of
    the dropna rows. Components follow sklearn's convention (rows of V^T
    from SVD of the centered data, deterministic svd-flip sign).
    Returns (source, means array, components array<array>) with k rows
    of components; a source without a valid row gets NULLs
    (``require_fit`` names it)."""

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        sub = pdf[features].dropna()
        src = pdf[source_col].iloc[0]
        if sub.empty:  # NULL model row: NULL scores, flagged by require_fit
            return pd.DataFrame({source_col: [src], "means": [None], "components": [None]})
        X = sub.values.astype(float)
        mu = X.mean(axis=0)
        U, S, Vt = np.linalg.svd(X - mu, full_matrices=False)
        # sklearn svd_flip: sign so that largest |loading| per component is +
        signs = np.sign(Vt[np.arange(Vt.shape[0]), np.argmax(np.abs(Vt), axis=1)])
        Vt = Vt * signs[:, None]
        return pd.DataFrame(
            {source_col: [src], "means": [list(mu)],
             "components": [[list(r) for r in Vt[:k]]]}
        )

    schema = f"{source_col} string, means array<double>, components array<array<double>>"
    return train.groupBy(source_col).applyInPandas(fit, schema=schema)


def _centered(features: list[str]):
    return [
        F.col(c) - F.element_at(F.col("means"), i + 1)
        for i, c in enumerate(features)
    ]


def _pc_score(features: list[str], j: int) -> Column:
    comp = F.element_at(F.col("components"), j + 1)
    expr = None
    for i, cexpr in enumerate(_centered(features)):
        term = F.element_at(comp, i + 1) * cexpr
        expr = term if expr is None else expr + term
    return expr


def pca_projection(
    df: DataFrame, model: DataFrame, features: list[str], k: int = 1,
    *, source_col: str = "source", prefix: str = "pc",
) -> DataFrame:
    """PcaProjection (_transformer_hd.py:211-223): first k PC scores;
    NULL rows (any NULL feature) yield NULL scores."""
    _require_feature_cols(df, features)
    joined = df.join(F.broadcast(model), on=source_col, how="left")
    nulls = _any_null(features)
    cols = [
        F.when(nulls, F.lit(None)).otherwise(_pc_score(features, j)).alias(f"{prefix}{j}")
        for j in range(k)
    ]
    return joined.select("*", *cols).drop("means", "components")


def pca_reconstruction(
    df: DataFrame, model: DataFrame, features: list[str], k: int = 1,
    *, source_col: str = "source", suffix: str = "_recon",
) -> DataFrame:
    """PcaReconstruction (_transformer_hd.py:226-266):
    inverse_transform(transform(x)) = mu + sum_j score_j * component_j,
    one reconstructed column per feature. NULL rows stay NULL."""
    _require_feature_cols(df, features)
    joined = df.join(F.broadcast(model), on=source_col, how="left")
    nulls = _any_null(features)
    scores = [_pc_score(features, j) for j in range(k)]
    out_cols = []
    for i, c in enumerate(features):
        recon = F.element_at(F.col("means"), i + 1)
        for j in range(k):
            comp = F.element_at(F.col("components"), j + 1)
            recon = recon + scores[j] * F.element_at(comp, i + 1)
        out_cols.append(
            F.when(nulls, F.lit(None)).otherwise(recon).alias(f"{c}{suffix}")
        )
    return joined.select("*", *out_cols).drop("means", "components")


def pca_reconstruction_error(
    df: DataFrame, model: DataFrame, features: list[str], k: int = 1,
    *, source_col: str = "source", out_col: str = "recon_error",
) -> DataFrame:
    """PcaReconstructionError (_transformer_hd.py:269-310): squared
    reconstruction error = ||x_c||^2 - sum_j score_j^2 for orthonormal
    components (algebraically identical to reconstructing and summing
    squared deltas, but needs no second matrix product)."""
    _require_feature_cols(df, features)
    joined = df.join(F.broadcast(model), on=source_col, how="left")
    nulls = _any_null(features)
    sq_norm = None
    for cexpr in _centered(features):
        term = cexpr * cexpr
        sq_norm = term if sq_norm is None else sq_norm + term
    score_sq = None
    for j in range(k):
        s = _pc_score(features, j)
        term = s * s
        score_sq = term if score_sq is None else score_sq + term
    err = F.when(nulls, F.lit(None)).otherwise(sq_norm - score_sq)
    return joined.withColumn(out_col, err).drop("means", "components")


def pca_ad(
    df: DataFrame, features: list[str], k: int = 1, c: float = 5.0,
    *, source_col: str = "source", out_col: str = "label",
) -> DataFrame:
    """PcaAD (_detector_hd.py:330-383): reconstruction error -> IQR rule
    (the error is both the compound rule's residual and its magnitude;
    side='both' makes the sign rule true wherever the error is known)."""
    model = pca_fit(df, features, k, source_col=source_col)
    err = pca_reconstruction_error(df, model, features, k,
                                   source_col=source_col, out_col="_err")
    return _compound_fit_detect(err, (c, c), "both", source_col=source_col,
                                ts_col=None, out_col=out_col,
                                diff_col="_err", mag_col="_err")


# ---------------------------------------------------------------------------
# MinClusterDetector (numpy KMeans stand-in for the sklearn wrapper)
# ---------------------------------------------------------------------------

def min_cluster_ad(
    df: DataFrame,
    features: list[str],
    n_clusters: int = 2,
    n_iter: int = 10,
    *,
    source_col: str = "source",
    out_col: str = "label",
) -> DataFrame:
    """MinClusterDetector (_detector_hd.py:101-140): a Lloyd's-KMeans fit
    per source, and membership in the smallest cluster is anomalous (the
    reference wraps a user-given sklearn clusterer). A SQL engine can
    replay the fit bit-for-bit (the contract oracle runs the identical
    iteration as a DuckDB recursive CTE). Three choices make the fit
    deterministic at ANY partitioning/parallelism:

    - features are quantized to 1e-6 units as int64 on the JVM side
      (``round(x*1e6)``), so centroid numerators are EXACT integer
      sums — associative, order-independent;
    - init = the first ``n_clusters`` DISTINCT quantized vectors in
      lexicographic order (np.unique row order == SQL ORDER BY LIMIT k);
    - exactly ``n_iter`` Lloyd updates (converged states are fixed
      points of the quantized update, so fixed-count == early-break),
      then one final assignment pass with the post-update centers —
      the same centers the predict expression uses.

    Distance/argmin arithmetic is plain IEEE double on both sides
    (square-and-add left to right, strict ``<`` keeps the lowest
    cluster index on ties — numpy argmin semantics). Empty clusters
    keep their previous center; the min cluster is the lowest index
    among minimal sizes (np.bincount(...).argmin()).
    """
    _require_feature_cols(df, features)
    icols = [f"_q_{c}" for c in features]
    base = df.select(
        "*",
        *[
            F.round(F.col(c) * 1_000_000, 0).cast("long").alias(q)
            for c, q in zip(features, icols)
        ],
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        src = pdf[source_col].iloc[0]
        sub = pdf[icols].dropna()
        Xi = sub.values.astype(np.int64)
        uniq = np.unique(Xi, axis=0)  # lexicographically sorted rows
        centers = uniq[: min(n_clusters, len(uniq))].astype(np.float64)
        k = len(centers)
        Xf = Xi.astype(np.float64)
        for _ in range(n_iter):
            d = ((Xf[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            lab = d.argmin(axis=1)
            for j in range(k):
                m = lab == j
                if m.any():
                    # exact int64 sums -> one double division
                    centers[j] = Xi[m].sum(axis=0).astype(np.float64) / m.sum()
        d = ((Xf[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        lab = d.argmin(axis=1)
        sizes = np.bincount(lab, minlength=k)
        return pd.DataFrame(
            {
                source_col: [src],
                "centers": [[list(r) for r in centers]],
                "min_cluster": [int(sizes.argmin())],
            }
        )

    schema = f"{source_col} string, centers array<array<double>>, min_cluster int"
    model = base.groupBy(source_col).applyInPandas(fit, schema=schema)
    joined = base.join(F.broadcast(model), on=source_col, how="left")
    n_centers = F.size(F.col("centers"))

    def dist_sq(j: Column) -> Column:
        center = F.element_at(F.col("centers"), j)
        expr = None
        for i, q in enumerate(icols):
            t = F.col(q).cast("double") - F.element_at(center, i + 1)
            term = t * t
            expr = term if expr is None else expr + term
        return expr

    assign = F.aggregate(
        F.sequence(F.lit(1), n_centers),
        F.struct(F.lit(0).alias("j"), F.lit(float("inf")).alias("d")),
        lambda acc, j: F.when(
            dist_sq(j) < acc["d"], F.struct(j.alias("j"), dist_sq(j).alias("d"))
        ).otherwise(acc),
    )["j"]
    label = F.when(_any_null(icols), F.lit(None)).otherwise(
        (assign - 1) == F.col("min_cluster")
    )
    return (
        joined.withColumn(out_col, _as_double(label))
        .drop("centers", "min_cluster", *icols)
    )


def outlier_detector(
    df: DataFrame,
    outlier_func,
    features: list[str],
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    out_col: str = "label",
) -> DataFrame:
    """OutlierDetector (_detector_hd.py:143-188): wrap a user outlier
    model. The reference calls sklearn ``fit_predict`` on the dropna
    rows and maps ``-1`` -> anomalous; here ``outlier_func`` is any
    callable ``DataFrame[features] -> array-like of {-1, 1}`` (e.g. a
    bound ``IsolationForest(...).fit_predict``), run per source in one
    Arrow grouped-map UDF. Rows with any NULL feature get NULL labels
    (the reference's dropna semantics)."""
    if out_col in features:
        raise ValueError(f"out_col {out_col!r} is also a feature; rename one")
    in_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields if f.name != out_col
    )
    schema = f"{in_fields}, `{out_col}` double"
    echo = [c for c in df.columns if c != out_col]

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        sub = pdf[features].dropna()
        lab = pd.Series(np.nan, index=pdf.index)
        if len(sub):
            pred = np.asarray(outlier_func(sub))
            lab.loc[sub.index] = (pred == -1).astype(float)
        out = pdf[echo].copy()
        out[out_col] = lab
        return out

    return df.groupBy(source_col).applyInPandas(run, schema=schema)


def lagged_corr(
    df: DataFrame,
    source_a: str,
    source_b: str,
    lags,
    step_secs: int,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Lead/lag cross-correlation between two sources on a fixed grid:
    for each k in ``lags``, Pearson corr(a[t], b[t + k*step_secs]) over
    every grid point where both exist. Output ``(lag, n, corr)``.

    Plan shape: ONE equi-join regardless of how many lags — the b side
    is exploded to (ts - k*step, k, vb) for all lags (k x |b| rows, the
    small factor), joined to a on ts, then an algebraic groupBy on k.
    The naive form (one join per lag) multiplies shuffles by |lags|.

    Determinism: the moments are exact sums (``functions/exact.py``),
    so corr is bit-identical at any parallelism.
    """
    lags = [int(k) for k in lags]
    v, t = F.col(value_col), F.col(ts_col)
    a = (df.where((F.col(source_col) == source_a) & v.isNotNull())
         .select(F.unix_micros(t.cast("timestamp")).alias("_t"),
                 v.alias("_va")))
    b = (df.where((F.col(source_col) == source_b) & v.isNotNull())
         .select(F.unix_micros(t.cast("timestamp")).alias("_tb"),
                 v.alias("_vb")))
    step_us = int(step_secs) * 1_000_000
    shifted = b.select(
        F.explode(F.array(*[F.lit(k) for k in lags])).alias("lag"),
        "_tb", "_vb",
    ).select("lag", (F.col("_tb") - F.col("lag") * F.lit(step_us)).alias("_t"),
             "_vb")
    j = a.join(shifted, "_t")
    agged = j.groupBy("lag").agg(*pearson_sums(F.col("_va"), F.col("_vb")))
    return agged.select("lag", "n", pearson_r().alias("corr"))


def corr_matrix(
    df: DataFrame,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    min_n: int = 2,
) -> DataFrame:
    """All-pairs Pearson correlation matrix between sources on aligned
    buckets — the discovery companion to [[lagged_corr]]: instead of
    probing ONE nominated pair across lags, score EVERY unordered pair
    at lag 0 and rank them ("which metrics move together?"), the
    standard first pass of correlated-metric search in monitoring
    stacks. Upper triangle only (``source_a < source_b``); output
    ``(source_a, source_b, n, corr)`` with pairs overlapping on fewer
    than ``min_n`` buckets dropped (corr undefined/noise).

    Input contract: an already-aligned series (one row per (source,
    bucket), e.g. hourly tier averages from ``rollup_at``) — NEVER raw
    irregular points, whose timestamps would only self-join by
    accident.

    Plan shape: ONE self equi-join on the bucket timestamp (the `<`
    pair ordering is a post-join filter, not a join dimension), then an
    algebraic groupBy on the pair key with map-side partials. Cost is
    inherently S² per bucket for S sources — run it on tier buckets
    where |buckets| is small and S² rows are 40-byte moment tuples; the
    shuffle key (bucket) is uniform by construction.

    Determinism: the moments are exact sums, as in [[lagged_corr]].
    """
    r = (df.where(F.col(value_col).isNotNull())
         .select(F.col(source_col).alias("_s"),
                 F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_t"),
                 F.col(value_col).alias("_v")))
    j = (r.alias("x")
         .join(r.alias("y"),
               on=[F.col("x._t") == F.col("y._t"),
                   F.col("x._s") < F.col("y._s")])
         .select(F.col("x._s").alias("source_a"),
                 F.col("y._s").alias("source_b"),
                 F.col("x._v").alias("_va"), F.col("y._v").alias("_vb")))
    agged = j.groupBy("source_a", "source_b").agg(
        *pearson_sums(F.col("_va"), F.col("_vb"))
    ).where(F.col("n") >= int(min_n))
    return agged.select("source_a", "source_b", "n",
                        pearson_r().alias("corr"))


def hurst_exponent(
    df: DataFrame,
    block_sizes=(16, 32, 64, 128),
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Hurst exponent per source via classical rescaled-range (R/S)
    analysis (Hurst 1951; Mandelbrot & Wallis 1969): split the series
    into non-overlapping blocks of each size m, compute each block's
    rescaled range ``R/S`` (range of the cumulative mean-deviation over
    the population std), average per m, and fit the log-log slope —
    H ~ 0.5 is memoryless, H > 0.5 long-range persistent (load curves,
    temperatures), H < 0.5 mean-reverting. The long-memory
    characterization the ACF-based [[seasonality_strength]] knob
    doesn't give: seasonality is periodic structure, Hurst is
    scale-free structure, and the router can use both (persistent
    sources keep fidelity at coarse tiers; anti-persistent ones don't).

    Plan shape: one row_number window per source, a |block_sizes|×
    explode, then block-keyed windows + one groupBy per stage — all on
    (source, m, block) keys that grow with the data (no driver-side
    fit). Only FULL blocks count (trailing remainders drop).

    Determinism: block means, squared-deviation sums and the final OLS
    are exact sums (``functions/exact.py``); the cumulative deviation
    is a sequential running sum (bitwise-equal association in any
    engine) — hash-equal to the SQL replay at any parallelism.
    """
    sizes = sorted(int(m) for m in block_sizes)
    wsrc = Window.partitionBy(source_col).orderBy(ts_col)
    base = (df.where(F.col(value_col).isNotNull())
            .select(source_col, ts_col, F.col(value_col).alias("_v"))
            .withColumn("_i", F.row_number().over(wsrc) - F.lit(1)))
    e = (base.select(
            source_col, "_i", "_v",
            F.explode(F.array(*[F.lit(m) for m in sizes])).alias("m"))
         .withColumn("_blk", F.floor(F.col("_i").cast("double")
                                     / F.col("m").cast("double"))
                     .cast("long")))
    w_b = Window.partitionBy(source_col, "m", "_blk")
    w_run = w_b.orderBy("_i").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    b = (e.withColumn("_cnt", F.count("*").over(w_b))
         .withColumn("_sumv", exact_sum(F.col("_v"), quantize=False,
                                        over=w_b))
         .where(F.col("_cnt") == F.col("m"))
         .withColumn("_dev", F.col("_v")
                     - F.col("_sumv") / F.col("m").cast("double")))
    b = b.withColumn("_cum", F.sum("_dev").over(w_run))
    g = (b.groupBy(source_col, "m", "_blk")
         .agg((F.max("_cum") - F.min("_cum")).alias("_R"),
              exact_sum(F.col("_dev") * F.col("_dev")).alias("_ssd")))
    rs = F.col("_R") / F.sqrt(F.col("_ssd") / F.col("m").cast("double"))
    per_m = (g.where(F.col("_ssd") > 0)
             .select(source_col, "m", F.round(rs, 9).alias("_rs"))
             .groupBy(source_col, "m")
             .agg(F.count("*").alias("n_blocks"),
                  exact_sum(F.col("_rs")).alias("_sum_rs")))
    lnm = F.log(F.col("m").cast("double"))
    lny = F.log(F.col("_sum_rs") / F.col("n_blocks").cast("double"))
    pts = per_m.select(source_col, lnm.alias("_x"), lny.alias("_y"))
    agg = pts.groupBy(source_col).agg(
        F.count("*").alias("n_sizes"), *ols_sums(F.col("_x"), F.col("_y")))
    num, den = ols_slope("n_sizes")
    return (agg.where(F.col("n_sizes") >= 2)
            .select(source_col, "n_sizes", (num / den).alias("hurst")))


def acf(
    df: DataFrame,
    lags,
    step_secs: int,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Autocorrelation function for EVERY source at once: Pearson
    corr(x[t], x[t + k*step_secs]) per (source, lag) over pairwise-
    complete grid points — the inspection curve behind
    [[seasonality_strength]]'s single chosen-period scalar and
    [[lagged_corr]]'s single nominated pair: plot it to SEE the period
    and the decay before committing a router knob. Output
    ``(source, lag, n, acf)``.

    Plan shape: ONE self equi-join on (source, shifted grid time)
    regardless of lag count — the shifted side explodes to |lags|
    copies (the lagged_corr device), then an algebraic groupBy on
    (source, lag). Input contract: an aligned series (tier buckets),
    never raw irregular points.

    Determinism: the moments are exact sums, as in [[lagged_corr]] —
    bit-stable at any parallelism and hash-equal to the SQL replay.
    """
    lags = [int(k) for k in lags]
    v, t = F.col(value_col), F.col(ts_col)
    base = (df.where(v.isNotNull())
            .select(F.col(source_col).alias("_s"),
                    F.unix_micros(t.cast("timestamp")).alias("_t"),
                    v.alias("_v")))
    step_us = int(step_secs) * 1_000_000
    shifted = base.select(
        "_s",
        F.explode(F.array(*[F.lit(k) for k in lags])).alias("lag"),
        (F.col("_t") - F.col("lag") * F.lit(step_us)).alias("_t"),
        F.col("_v").alias("_vb"),
    )
    j = base.join(shifted, ["_s", "_t"])
    agged = j.groupBy("_s", "lag").agg(*pearson_sums(F.col("_v"), F.col("_vb")))
    return agged.select(F.col("_s").alias(source_col), "lag", "n",
                        pearson_r().alias("acf"))


def rolling_corr(
    df: DataFrame,
    pairs,
    window: int = 24,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Trailing-window Pearson correlation SERIES for nominated source
    pairs on aligned buckets: where [[corr_matrix]] scores each pair
    once and [[lagged_corr]] probes lead/lag, this emits corr over the
    last ``window`` buckets at every step — the relationship-DRIFT
    monitor (two metrics that always moved together decoupling is an
    incident signal long before either trips its own threshold).
    Output ``(source_a, source_b, ts, n, corr)``; warm-up rows
    (fewer than ``window`` joint buckets) emit NULL corr.

    Plan shape: the pair list is a broadcast literal map joined twice
    (x side, y side) onto the aligned series — buckets only join
    within a pair; then ONE window partitioned by the pair (pairs
    parallelize; one pair's series is inherently sequential, so run on
    tier buckets per the detector routing contract). Five running
    moment sums share the partition.

    Determinism: the moments are 1e-9-quantized exact running sums
    over an exact ROWS frame — bit-stable at any parallelism and
    hash-equal to the SQL replay.
    """
    pair_rows = [(i, str(a), str(b)) for i, (a, b) in enumerate(pairs)]
    pm = df.sparkSession.createDataFrame(
        pair_rows, "pair_id int, sa string, sb string")
    base = (df.where(F.col(value_col).isNotNull())
            .select(F.col(source_col).alias("_s"),
                    F.col(ts_col).alias("_t"),
                    F.col(value_col).alias("_v")))
    j = (base.join(F.broadcast(pm), F.col("_s") == F.col("sa"))
         .select("pair_id", "sa", "sb", "_t", F.col("_v").alias("_va"))
         .join(base.select(F.col("_s").alias("_sb2"),
                           F.col("_t").alias("_tb"),
                           F.col("_v").alias("_vb")),
               on=[F.col("sb") == F.col("_sb2"),
                   F.col("_t") == F.col("_tb")])
         .select("pair_id", "sa", "sb", "_t", "_va", "_vb"))
    w = (Window.partitionBy("pair_id").orderBy("_t")
         .rowsBetween(-(int(window) - 1), 0))
    m = j.select("sa", "sb", "_t", *pearson_sums(
        F.col("_va"), F.col("_vb"), quantize=True, over=w))
    return m.select(
        F.col("sa").alias("source_a"), F.col("sb").alias("source_b"),
        F.col("_t").alias(ts_col), "n",
        F.when(F.col("n") == int(window), pearson_r()).alias("corr"),
    )
