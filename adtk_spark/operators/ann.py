"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: the exact baseline, one pass, JVM-side
  higher-order functions (zip_with dot product), no UDF.
- IVF (inverted-file) index: coarse k-means centroids trained on a
  deterministic sample, rows assigned to their nearest centroid
  (one shuffle by list id); queries probe only the nprobe closest
  lists — the 100 TB scale path (scan cost drops by ~n_lists/nprobe).
- embedding near-duplicate pairs: cosine >= threshold inside IVF cells
  (candidate generation by cell, exact verification).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import exact_sum


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x,
    ))


def _lit_vec(v) -> Column:
    return F.array(*[F.lit(float(x)) for x in v])


def cosine_topk(
    emb: DataFrame, query_vec, k: int = 10,
    *, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k for one query vector."""
    q = _lit_vec(query_vec)
    qn = float(np.sqrt(np.dot(np.asarray(query_vec, float), np.asarray(query_vec, float))))
    cos = _dot(F.col(vec_col), q) / (_norm(F.col(vec_col)) * F.lit(qn))
    return (
        emb.select(id_col, F.round(cos, 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


def ivf_fit(
    emb: DataFrame, n_lists: int = 16, sample: int = 2000, seed: int = 0,
    n_iter: int = 20, *, id_col: str = "vec_id", vec_col: str = "embedding",
) -> list[list[float]]:
    """Train coarse centroids with numpy k-means on a deterministic
    sample (driver-side: n_lists x dim floats — tiny).

    The sample is ordered by md5(id) — a seeded shuffle that is stable
    across partition layouts and parallelism (a bare ``limit()`` is
    whichever rows arrive first, so centroids — and every downstream
    search result — would change between runs). md5-ordering is also
    reproducible by a SQL oracle.

    ``n_iter=0`` skips Lloyd refinement and uses the first ``n_lists``
    sampled vectors directly as centroids ("random-seeds IVF") — fully
    deterministic arithmetic that an oracle can replay; recall is lower
    than the refined centroids, which remain the production default.
    """
    ordered = emb.orderBy(F.md5(F.col(id_col).cast("string")), id_col)
    rows = ordered.select(vec_col).limit(sample).collect()
    X = np.array([r[0] for r in rows], dtype=float)
    if n_iter == 0:
        return [list(c) for c in X[: min(n_lists, len(X))]]
    return [list(c) for c in _kmeans(X, n_lists, seed=seed, n_iter=n_iter)]


def _kmeans(X: np.ndarray, k: int, seed: int = 0, n_iter: int = 20) -> np.ndarray:
    """Bounded driver-side Lloyd on an already-collected sample."""
    rng = np.random.RandomState(seed)
    centers = X[rng.choice(len(X), size=min(k, len(X)), replace=False)]
    for _ in range(n_iter):
        d = ((X[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        lab = d.argmin(axis=1)
        new = np.array([
            X[lab == j].mean(axis=0) if (lab == j).any() else centers[j]
            for j in range(len(centers))
        ])
        if np.allclose(new, centers):
            break
        centers = new
    return centers


def _dist_sq_to(vec_col: str, c) -> Column:
    return F.aggregate(
        F.zip_with(F.col(vec_col), _lit_vec(c),
                   lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0), lambda acc, x: acc + x,
    )


def ivf_assign(
    emb: DataFrame, centers: list[list[float]],
    *, vec_col: str = "embedding", out_col: str = "list_id",
) -> DataFrame:
    """Assign each row to its nearest centroid (pure expressions)."""
    best_id, best_d = F.lit(0), _dist_sq_to(vec_col, centers[0])
    for j, c in enumerate(centers[1:], start=1):
        d = _dist_sq_to(vec_col, c)
        cond = d < best_d
        best_id = F.when(cond, F.lit(j)).otherwise(best_id)
        best_d = F.when(cond, d).otherwise(best_d)
    return emb.withColumn(out_col, best_id)


def ivf_assign_multi(
    emb: DataFrame, centers: list[list[float]], probes: int = 2,
    *, vec_col: str = "embedding", out_col: str = "list_id",
) -> DataFrame:
    """Assign each row to its ``probes`` nearest centroids (one output
    row per assignment — explode). Pure expressions: build the
    (dist, list) struct array, array_sort, slice the head.

    Multi-probe assignment is the indexing-side twin of ``ivf_search``'s
    nprobe: a vector sitting on a cell boundary lands in BOTH adjacent
    cells, so near-duplicate candidates straddling the boundary still
    meet in one cell. Costs ``probes``× the candidate-generation rows —
    the exact verification stays per surviving pair.
    """
    cells = F.array(*[
        F.struct(_dist_sq_to(vec_col, c).alias("d"), F.lit(j).alias("j"))
        for j, c in enumerate(centers)
    ])
    top = F.slice(F.array_sort(cells), 1, min(probes, len(centers)))
    return (
        emb.withColumn("_probe", F.explode(F.transform(top, lambda s: s["j"])))
        .withColumnRenamed("_probe", out_col)
    )


def ivf_search(
    indexed: DataFrame, centers: list[list[float]], query_vec,
    k: int = 10, nprobe: int = 4,
    *, id_col: str = "vec_id", vec_col: str = "embedding", list_col: str = "list_id",
) -> DataFrame:
    """Probe the nprobe nearest lists only; exact cosine inside them.

    At scale the list filter is a partition-pruning predicate on a table
    bucketed/partitioned by list_id — the scan touches nprobe/n_lists of
    the data.
    """
    q = np.asarray(query_vec, dtype=float)
    d = ((np.array(centers) - q[None, :]) ** 2).sum(axis=1)
    probe = [int(i) for i in np.argsort(d)[:nprobe]]
    subset = indexed.where(F.col(list_col).isin(probe))
    return cosine_topk(subset, query_vec, k, id_col=id_col, vec_col=vec_col)


def ivf_cell_stats(
    assign: DataFrame, max_cell: int | None = None,
    *, list_col: str = "list_id",
) -> DataFrame:
    """Cell-population report for an IVF assignment: one row per cell
    with its cardinality and, when ``max_cell`` is given, whether a
    capped candidate-generation run would drop it. The ANN twin of
    ``lsh_bucket_stats`` — run (and log) it before/after a big
    ``embedding_dup_pairs`` job so any capped recall loss is measured,
    never silent (r04 VERDICT item #6)."""
    out = assign.groupBy(list_col).agg(F.count("*").alias("n_vecs"))
    if max_cell is not None:
        out = out.withColumn(
            "dropped", (F.col("n_vecs") > max_cell).cast("int"))
    return out


def ivf_split_oversized(
    idx: DataFrame, max_cell: int,
    *, vec_col: str = "v", list_col: str = "list_id",
    max_depth: int = 3, sample: int = 512, cells_per_round: int = 64,
    seed: int = 0,
) -> DataFrame:
    """Recursively re-cluster oversized IVF cells (r04 VERDICT item #6).

    Each round: count cells, take the (bounded) worst offenders over
    ``max_cell``, collect a deterministic md5-ordered sample per cell
    (bounded driver transfer: cells x sample x dim), fit
    ``ceil(n/max_cell)`` sub-centroids with the same Lloyd kernel as
    ``ivf_fit``, and reassign ONLY those cells' rows to hierarchical ids
    (``"3/1"``) via pure argmin expressions. Rounds are localCheckpointed
    so the loop's lineage stays constant-size (same device as the CC
    loop, corpus.py). Cells still oversized after ``max_depth`` rounds
    are genuinely unsplittable (near-identical vectors); they are left
    in place for the caller to cap + count via ``ivf_cell_stats``.

    Input/output contract: ``idx`` rows are (id, v, list_id); list_id is
    returned as STRING (hierarchical path ids).
    """
    idx = idx.withColumn(list_col, F.col(list_col).cast("string"))
    for _depth in range(max_depth):
        counts = (idx.groupBy(list_col).agg(F.count("*").alias("_n"))
                  .where(F.col("_n") > max_cell)
                  .orderBy(F.desc("_n")).limit(cells_per_round).collect())
        if not counts:
            break
        hot = {r[list_col]: r["_n"] for r in counts}
        wnd = Window.partitionBy(list_col).orderBy(
            F.md5(F.col("id").cast("string")), "id")
        samp = (idx.where(F.col(list_col).isin(list(hot)))
                .withColumn("_rn", F.row_number().over(wnd))
                .where(F.col("_rn") <= sample)
                .select(list_col, vec_col, "_rn").collect())
        # collect() returns rows in partition-arrival order; _kmeans seeds
        # by position, so put each cell's sample in md5 order first
        by_cell: dict = {}
        for r in sorted(samp, key=lambda r: (r[list_col], r["_rn"])):
            by_cell.setdefault(r[list_col], []).append(r[vec_col])
        sub_centers = {}
        for cell, vecs in by_cell.items():
            k = max(2, min(8, -(-hot[cell] // max_cell)))
            sub_centers[cell] = _kmeans(np.asarray(vecs, dtype=float), k,
                                        seed=seed, n_iter=10)
        # per-cell argmin over its sub-centroids, pure expressions
        new_id = F.col(list_col)
        for cell, centers in sub_centers.items():
            cells_arr = F.array(*[
                F.struct(_dist_sq_to(vec_col, c).alias("d"),
                         F.lit(j).alias("j"))
                for j, c in enumerate(centers)
            ])
            sub = F.array_min(cells_arr)["j"].cast("string")
            new_id = F.when(F.col(list_col) == cell,
                            F.concat(F.col(list_col), F.lit("/"), sub)
                            ).otherwise(new_id)
        idx = idx.withColumn(list_col, new_id).localCheckpoint(eager=False)
    return idx


def embedding_dup_pairs(
    emb: DataFrame, centers: list[list[float]], threshold: float = 0.95,
    *, id_col: str = "vec_id", vec_col: str = "embedding",
    max_cell: int | None = None, probes: int = 2,
    split_oversized: bool = True, split_depth: int = 3,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates inside one IVF
    cell, exact cosine verification, id_a < id_b.

    ``probes`` (default 2): each vector is assigned to its ``probes``
    nearest cells for candidate generation (``ivf_assign_multi``), so a
    near-dup pair straddling a cell boundary — the single-probe recall
    hole — still shares a cell. Pairs meeting in several cells are
    deduplicated before verification. ``probes=1`` is the classic
    single-assignment IVF.

    ``max_cell`` bounds the quadratic within-cell join. With
    ``split_oversized`` (default), oversized cells are first recursively
    re-clustered with fresh sub-centroids (``ivf_split_oversized``) —
    dup concentrations are exactly where oversized cells form, so
    dropping them outright is silent recall loss precisely on the
    duplicates (r04 VERDICT item #6). Only cells STILL oversized after
    ``split_depth`` rounds (near-identical vector blobs no centroids can
    separate) are dropped from candidate generation; measure those with
    ``ivf_cell_stats`` before trusting a capped run.
    """
    assign = (ivf_assign_multi(emb, centers, probes) if probes > 1
              else ivf_assign(emb, centers))
    idx = assign.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), "list_id"
    )
    if max_cell is not None and split_oversized:
        idx = ivf_split_oversized(idx, max_cell, max_depth=split_depth)
    return dup_pairs_from_index(idx, threshold, max_cell=max_cell,
                                dedup_pairs=probes > 1)


def dup_pairs_from_index(
    idx: DataFrame, threshold: float,
    *, max_cell: int | None = None, dedup_pairs: bool = True,
) -> DataFrame:
    """Pair verification over an explicit (id, v, list_id) index:
    within-cell candidates (cells over ``max_cell`` anti-joined away),
    id_a < id_b, exact cosine >= threshold. Split out of
    ``embedding_dup_pairs`` so the job path can assign -> split ->
    report cell stats -> pair on ONE index without re-running the
    split."""
    if max_cell is not None:
        hot = (idx.groupBy("list_id").agg(F.count("*").alias("_n"))
               .where(F.col("_n") > max_cell).drop("_n"))
        idx = idx.join(F.broadcast(hot), ["list_id"], "left_anti")
    a, b = idx.alias("a"), idx.alias("b")
    cand = a.join(b, on=[F.col("a.list_id") == F.col("b.list_id"),
                         F.col("a.id") < F.col("b.id")])
    if dedup_pairs:
        # a pair sharing k probed cells is generated k times: dedup the
        # NARROW (id_a, id_b) rows, then join the wide vectors back only
        # for the surviving pairs (same shape as the LSH candidate path —
        # the dedup shuffle never carries embedding arrays)
        pairs = (cand.select(F.col("a.id").alias("id_a"),
                             F.col("b.id").alias("id_b"))
                 .dropDuplicates(["id_a", "id_b"]))
        vecs = idx.select("id", "v").dropDuplicates(["id"])
        cand = (
            pairs.join(vecs.select(F.col("id").alias("id_a"),
                                   F.col("v").alias("v_a")), "id_a")
            .join(vecs.select(F.col("id").alias("id_b"),
                              F.col("v").alias("v_b")), "id_b")
        )
    else:
        cand = cand.select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.v").alias("v_a"), F.col("b.v").alias("v_b"),
        )
    cos = _dot(F.col("v_a"), F.col("v_b")) / (_norm(F.col("v_a")) * _norm(F.col("v_b")))
    return (
        cand.select("id_a", "id_b", F.round(cos, 6).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def embedding_contamination(
    train: DataFrame,
    evalset: DataFrame,
    threshold: float = 0.95,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eval_id_col: str = "eval_id",
    max_eval: int = 100_000,
) -> DataFrame:
    """Benchmark decontamination by embedding similarity: every
    (train, eval) pair with cosine >= ``threshold`` — the semantic
    companion to the n-gram decontamination pass (``corpus.
    ngram_contamination`` catches verbatim leaks; paraphrased eval
    items only surface in embedding space).

    Plan shape: the eval suite is BROADCAST and scored map-side —
    a BroadcastNestedLoopJoin whose build side is the eval set, which
    is bounded (benchmarks are thousands of items, not corpora; the
    ``max_eval`` guard fails fast if someone passes a corpus as the
    eval side). No shuffle at any corpus size: cost is one scan times
    n_eval fold-order dot products per row, embarrassingly parallel.
    For very large eval suites route through ``ivf_assign`` on both
    sides and ``dup_pairs_from_index`` instead.

    Determinism: fold-order dot products and a rounded-6 cosine
    threshold, exactly as ``dup_pairs_from_index``.
    """
    n_eval = evalset.count()  # fit-action guard
    if n_eval > max_eval:
        raise ValueError(
            f"embedding_contamination: eval side has {n_eval} rows "
            f"(> max_eval={max_eval}); broadcast scoring is for bounded "
            "eval suites — use ivf_assign + dup_pairs_from_index for "
            "corpus-vs-corpus comparison")
    ev = F.broadcast(
        evalset.select(F.col(eval_id_col).alias(eval_id_col),
                       F.col(vec_col).alias("_ev")))
    j = train.select(id_col, vec_col).crossJoin(ev)
    cos = _dot(F.col(vec_col), F.col("_ev")) / (
        _norm(F.col(vec_col)) * _norm(F.col("_ev")))
    return (
        j.select(id_col, eval_id_col, F.round(cos, 6).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def embedding_quality(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    expected_dim: int | None = None,
) -> DataFrame:
    """Degenerate-vector audit for the ANN path: per vector its
    dimensionality, DECIMAL-exact L2 norm, and the three failure flags
    a real embedding pipeline hits — zero vectors (cosine undefined,
    they poison normalization), NaN/NULL components (a crashed encoder
    batch), and dimension drift (a model swap mid-corpus when
    ``expected_dim`` is given). Run it BEFORE building IVF cells or
    near-dup pairs; one explode + one groupBy, order-independent sums
    so the norms hash identically at any parallelism. NaN components
    are nulled by the DECIMAL quantization and thus excluded from the
    norm — ``is_bad`` is the NaN signal, not the norm value.
    """
    e = emb.select(id_col, F.posexplode_outer(vec_col).alias("_i", "_x"))
    per = e.groupBy(id_col).agg(
        F.count("_i").alias("n_dims"),
        F.sqrt(exact_sum(F.col("_x").cast("double") * F.col("_x").cast("double"),
                         quantize=False)).alias("norm"),
        F.max(F.col("_x").isNull().cast("int")).alias("_has_null"),
        F.max(F.isnan(F.col("_x").cast("double")).cast("int")).alias("_has_nan"),
    )
    out = per.select(
        id_col,
        "n_dims",
        F.round("norm", 6).alias("norm"),
        F.coalesce((F.col("norm") == 0.0).cast("int"), F.lit(0)).alias("is_zero"),
        # a NULL/empty array surfaces as n_dims=0 with is_bad=1 (the
        # outer-explode artifact row IS a bad embedding)
        F.coalesce(
            (F.col("_has_null") + F.col("_has_nan") > 0).cast("int"), F.lit(1)
        ).alias("is_bad"),
    )
    if expected_dim is not None:
        out = out.withColumn(
            "dim_drift", (F.col("n_dims") != expected_dim).cast("int")
        )
    return out


def embedding_centroid_drift(
    ref: DataFrame,
    cur: DataFrame,
    *,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label embedding-space drift between a reference and a
    current corpus slice: centroid cosine similarity and the Euclidean
    centroid shift per label. The SEMANTIC drift monitor the scalar
    feeds ([[psi_drift]]/[[ks_drift]] on values, `vocab_kl` on
    vocabulary) can't see — an embedding model upgrade or a topic
    shift moves class centroids while every per-vector norm and token
    histogram stays healthy. Cosine near 1 with a small shift means
    the class is stable; cosine drops before cluster assignments
    visibly break, so it gates IVF index refresh ([[ivf_fit]] reuse vs
    re-fit).

    Plan shape: one posexplode per side -> (label, dim) grouped
    DECIMAL-quantized means (map-side combined; dims are bounded, so
    keys are |labels| x dim) -> one equi-join on (label, dim) -> one
    per-label reduce. No vectors cross the network whole; nothing
    collects to the driver.

    Determinism: per-dim means are exact-decimal sums over float->
    double widened values with one IEEE division; the per-label
    cosine/shift terms are 1e-9-quantized products summed as DECIMAL —
    hash-equal to the SQL replay at any parallelism.
    """
    def cent(df, side):
        e = df.select(label_col, F.posexplode(vec_col).alias("_d", "_x"))
        return (e.groupBy(label_col, "_d")
                .agg(F.count("*").alias(f"n_{side}"),
                     (exact_sum(F.col("_x").cast("double"), quantize=False)
                      / F.count("*").cast("double"))
                     .alias(f"c_{side}")))

    j = cent(ref, "ref").join(cent(cur, "cur"), [label_col, "_d"])
    cr, cc = F.col("c_ref"), F.col("c_cur")
    agg = j.groupBy(label_col).agg(
        F.count("*").alias("n_dims"),
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
        exact_sum(cr * cc).alias("_sab"),
        exact_sum(cr * cr).alias("_saa"),
        exact_sum(cc * cc).alias("_sbb"),
        exact_sum((cr - cc) * (cr - cc)).alias("_sd"),
    )
    cos = F.col("_sab") / (F.sqrt(F.col("_saa")) * F.sqrt(F.col("_sbb")))
    return agg.select(
        label_col, "n_ref", "n_cur", "n_dims",
        F.round(cos, 6).alias("centroid_cosine"),
        F.round(F.sqrt(F.col("_sd")), 6).alias("centroid_shift"),
    )
