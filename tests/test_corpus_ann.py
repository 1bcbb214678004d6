"""Training-data pipeline ops: dedup families, text analysis, ANN, media."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import assert_layout_invariant


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_dedup_exact(spark, docs):
    from adtk_spark.operators.corpus import dedup_exact

    out = dedup_exact(docs)
    assert out.count() == docs.select("text").distinct().count()
    assert out.agg(F.sum("n_copies")).collect()[0][0] == docs.count()


def test_minhash_superset_of_high_jaccard(spark, docs):
    from adtk_spark.operators.corpus import minhash_lsh_pairs, ngram_jaccard_pairs

    exact = {(r["id_a"], r["id_b"]) for r in
             ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in
           minhash_lsh_pairs(docs, jaccard_threshold=0.8).collect()}
    # LSH verifies candidates with the same exact jaccard, so lsh ⊆ exact;
    # with 8 bands of 4 rows recall at j>=0.8 should be near-total
    assert lsh <= exact
    if exact:
        assert len(lsh) >= 0.9 * len(exact)


def test_simhash_identical_docs_collide(spark):
    from adtk_spark.operators.corpus import simhash, simhash_dup_pairs

    rows = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different words entirely unrelated content here")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    sig = simhash(d)
    pairs = simhash_dup_pairs(sig, max_hamming=3)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_lang_id_and_quality(spark, docs):
    from adtk_spark.operators.corpus import doc_quality, lang_id, token_count

    q = doc_quality(docs)
    row = q.orderBy("doc_id").first()
    assert row["n_words"] > 0 and 0 <= row["stopword_ratio"] <= 1
    li = lang_id(docs)
    assert set(r["pred_lang"] for r in li.select("pred_lang").distinct().collect()) \
        <= {"en", "es", "de", "fr"}
    tc = token_count(docs)
    r = tc.first()
    assert r["n_bpe_est"] >= r["n_ws_tokens"] > 0


def test_token_entropy_golden(spark):
    """Unigram entropy golden: all-same tokens give 0, a 50/50 split
    gives ln 2, uniform over 4 gives ln 4 — each reproduced through the
    operator's own 1e-9 term quantization."""
    import math

    from adtk_spark.operators.corpus import token_entropy

    rows = [(1, "a a b b"), (2, "x x x"), (3, "p q r s")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_words"], r["n_uniq_words"], r["entropy_nats"])
           for r in token_entropy(d).collect()}
    t_half = round(-0.5 * math.log(0.5), 9)
    t_quarter = round(-0.25 * math.log(0.25), 9)
    assert got[1] == (4, 2, round(2 * t_half, 6))
    assert got[2] == (3, 1, 0.0)
    assert got[3] == (4, 4, round(4 * t_quarter, 6))


def test_token_entropy_plan_two_exchanges_no_join(spark):
    import re

    from adtk_spark.operators.corpus import token_entropy

    d = spark.createDataFrame(
        [(1, "a b a"), (2, "c d")], "doc_id long, text string")
    plan = token_entropy(d)._jdf.queryExecution().executedPlan().toString()
    # (doc,word) counts then a doc repartition shared by the totals
    # window and the final reduce — the psi_drift device, no join
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan
    assert "Join" not in plan, plan


def test_tfidf_topk_golden_and_tiebreak(spark):
    """Smoothed-idf TF-IDF golden on a 3-doc corpus, including the
    quantized-score tie resolved by the word-asc tiebreak."""
    import math

    from adtk_spark.operators.corpus import tfidf_topk

    rows = [(1, "a a b"), (2, "a c"), (3, "c c c")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_id"], r["rank"]): (r["word"], r["tf"], r["tfidf"])
           for r in tfidf_topk(d, k=2).collect()}
    idf_a = math.log(4 / 3) + 1.0  # df=2 of N=3
    idf_b = math.log(4 / 2) + 1.0  # df=1
    assert got[(1, 1)] == ("a", 2, round(2 * idf_a, 6))
    assert got[(1, 2)] == ("b", 1, round(1 * idf_b, 6))
    # doc 2: a and c score identically (same tf, same df) -> word asc
    assert got[(2, 1)][0] == "a" and got[(2, 2)][0] == "c"
    assert got[(3, 1)] == ("c", 3, round(3 * idf_a, 6))


def test_tfidf_topk_plan_three_exchanges(spark):
    import re

    from adtk_spark.operators.corpus import tfidf_topk

    d = spark.createDataFrame(
        [(1, "a b a"), (2, "c d")], "doc_id long, text string")
    plan = tfidf_topk(d)._jdf.queryExecution().executedPlan().toString()
    # (doc,word) count -> word-window df -> per-doc rank; no join
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 3, plan
    assert "Join" not in plan, plan


def test_bm25_topk_golden_ordering(spark):
    """BM25 golden: hand-computed scores with the operator's own
    quantization; zero-score docs excluded; ordering tf/dl-sensitive."""
    import math

    from adtk_spark.operators.corpus import bm25_topk

    rows = [(1, "a a b b"), (2, "a"), (3, "b b"), (4, "a a a a")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_topk(d, ["a"], k=10).collect()
    # N=4, df=3, sum_dl=11
    idf = round(math.log(1.0 + (4 - 3 + 0.5) / 3.5), 9)
    avgdl = round(11 / 4, 9)

    def s(tf, dl):
        t = round(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 9)
        return round(round(0.0 + t, 9), 6)

    assert [r["doc_id"] for r in out] == [4, 2, 1]  # doc 3 scores 0
    got = {r["doc_id"]: (r["dl"], r["bm25"]) for r in out}
    assert got[4] == (4, s(4.0, 4))
    assert got[2] == (1, s(1.0, 1))
    assert got[1] == (4, s(2.0, 4))


def test_bm25_topk_plan_shuffle_free(spark):
    from adtk_spark.operators.corpus import bm25_topk

    d = spark.createDataFrame(
        [(1, "a b a"), (2, "c d")], "doc_id long, text string")
    plan = bm25_topk(d, ["a", "c"], k=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Join" not in plan, plan


def test_fingerprint_stability(spark, docs):
    from adtk_spark.operators.corpus import fingerprint

    fp1 = {r["doc_id"]: tuple(r["fingerprints"]) for r in fingerprint(docs).collect()}
    fp2 = {r["doc_id"]: tuple(r["fingerprints"]) for r in fingerprint(docs).collect()}
    assert fp1 == fp2 and all(len(v) > 0 for v in fp1.values())


def test_ann_ivf_matches_brute_force(spark, emb):
    from adtk_spark.operators.ann import cosine_topk, ivf_assign, ivf_fit, ivf_search

    qv = emb.where("vec_id = 7").select("embedding").collect()[0][0]
    brute = [r["vec_id"] for r in cosine_topk(emb, qv, k=5).collect()]
    assert brute[0] == 7  # self-similarity is 1.0
    centers = ivf_fit(emb, n_lists=8)
    indexed = ivf_assign(emb, centers)
    # all lists probed == exact
    full = [r["vec_id"] for r in
            ivf_search(indexed, centers, qv, k=5, nprobe=8).collect()]
    assert full == brute
    # few lists probed: top-1 still found (its own cell is probed first);
    # these embeddings are near-random so recall@5 is loose by design
    approx = [r["vec_id"] for r in
              ivf_search(indexed, centers, qv, k=5, nprobe=4).collect()]
    assert approx[0] == 7
    assert len(set(approx) & set(brute)) >= 2


def test_embedding_dup_pairs(spark, emb):
    from adtk_spark.operators.ann import embedding_dup_pairs, ivf_fit

    # plant an exact duplicate of vec 3 with a new id
    dup = emb.where("vec_id = 3").select(
        F.lit(99999).cast("long").alias("vec_id"), "embedding", "label")
    both = emb.unionByName(dup)
    centers = ivf_fit(both, n_lists=8)
    pairs = embedding_dup_pairs(both, centers, threshold=0.999)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (3, 99999) in got


def test_embedding_dup_pairs_multiprobe_boundary(spark):
    """A near-dup pair straddling an IVF cell boundary: single-probe
    assignment puts the two vectors in different cells (never
    candidates); probes=2 assigns each to both adjacent cells, so the
    pair meets and is verified."""
    from adtk_spark.operators.ann import embedding_dup_pairs, ivf_assign

    rows = [(f"L{i}", [-1.0 + 0.01 * i, 1.0]) for i in range(5)]
    rows += [(f"R{i}", [1.0 - 0.01 * i, 1.0]) for i in range(5)]
    rows += [("bA", [-0.02, 1.0]), ("bB", [0.02, 1.0])]  # cos ~0.9992
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    centers = [[-1.0, 1.0], [1.0, 1.0]]

    # precondition: the boundary pair really is split across cells
    assigned = {r["vec_id"]: r["list_id"] for r in ivf_assign(
        emb.where(F.col("vec_id").isin("bA", "bB")), centers).collect()}
    assert assigned["bA"] != assigned["bB"]

    one = {(r["id_a"], r["id_b"]) for r in embedding_dup_pairs(
        emb, centers, threshold=0.999, probes=1).collect()}
    two = {(r["id_a"], r["id_b"]) for r in embedding_dup_pairs(
        emb, centers, threshold=0.999, probes=2).collect()}
    assert ("bA", "bB") not in one  # the single-probe recall hole
    assert ("bA", "bB") in two  # multi-probe closes it
    assert one <= two  # multi-probe only adds candidates
    # dedup: each within-cluster pair verified once despite 2 shared cells
    assert len(two) == len({tuple(sorted(p)) for p in two})


def test_multimodal_plumbing(spark):
    from adtk_spark.operators.multimodal import extract_features, synthetic_media

    media = synthetic_media(spark, 50)
    assert media.where(F.col("media").isNull()).count() == 0
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 50
    assert all(r["px_mean"] is not None and 0 <= r["entropy"] <= 4.01 for r in rows)
    # determinism of the fake decoder
    again = {r["doc_id"]: r["px_mean"] for r in extract_features(media).collect()}
    assert {r["doc_id"]: r["px_mean"] for r in rows} == again


def test_minhash_hot_bucket_cap(spark):
    from adtk_spark.operators.corpus import minhash_lsh_pairs

    # 40 identical docs: every band collapses to ONE bucket of 40 docs
    # (780 pairs). A cap below 40 must drop the bucket and bound the
    # candidate join; without a cap the pairs all come back.
    rows = [(i, "all work and no play makes jack a dull boy " * 3) for i in range(40)]
    rows += [(100 + i, f"unique document number {i} with its own words entirely {i}")
             for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = minhash_lsh_pairs(docs, jaccard_threshold=0.9)
    assert uncapped.count() == 40 * 39 // 2
    capped = minhash_lsh_pairs(docs, jaccard_threshold=0.9, max_bucket=10)
    assert capped.count() == 0


def test_simhash_pigeonhole_full_recall(spark):
    from adtk_spark.operators.corpus import (
        SIMHASH_BITS_PORTABLE, simhash, simhash_dup_pairs,
    )

    # brute-force hamming vs blocked candidate generation must agree
    # exactly, including hamming in (max_hamming/2, max_hamming] where
    # the old fixed-4-block split lost pairs
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [(i, base + f" variant {i} tail {'x' * (i % 7)}") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = simhash(docs, portable=True)
    sigs = {r["doc_id"]: r["simhash"] for r in sig.collect()}
    for mh in (3, 6):
        expect = {
            (a, b)
            for a in sigs for b in sigs
            if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= mh
        }
        got = {(r["id_a"], r["id_b"]) for r in
               simhash_dup_pairs(sig, max_hamming=mh,
                                 n_bits=SIMHASH_BITS_PORTABLE).collect()}
        assert got == expect


def test_ngram_jaccard_max_df_cap(spark):
    from adtk_spark.operators.corpus import ngram_jaccard_pairs

    # two near-dup docs + 30 docs sharing one boilerplate shingle: the
    # boilerplate makes 30*29/2 index join rows without a cap; with the
    # cap the near-dup pair survives with the SAME exact jaccard
    a = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(1, a), (2, a + " iota")]
    rows += [(10 + i, f"shared boiler plate w{i} x{i} y{i} z{i}") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    full = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    capped = {(r["id_a"], r["id_b"]): r["jaccard"]
              for r in ngram_jaccard_pairs(docs, threshold=0.5, max_df=5).collect()}
    assert (1, 2) in capped
    assert capped[(1, 2)] == full[(1, 2)]


def test_ivf_fit_deterministic_across_layouts(spark, emb):
    from adtk_spark.operators.ann import ivf_fit

    c1 = ivf_fit(emb, n_lists=4, sample=64, n_iter=0)
    c2 = ivf_fit(emb.repartition(13), n_lists=4, sample=64, n_iter=0)
    assert c1 == c2
    l1 = ivf_fit(emb, n_lists=4, sample=64)
    l2 = ivf_fit(emb.repartition(7), n_lists=4, sample=64)
    assert l1 == l2


def test_bmp_codec_roundtrip():
    import numpy as np

    from adtk_spark.operators.multimodal import bmp_decode, bmp_encode

    rng = np.random.RandomState(0)
    for h, w in ((1, 1), (24, 32), (7, 5)):  # odd width exercises row padding
        arr = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(bmp_decode(bmp_encode(arr)), arr)


def test_extract_features_real_bmp_decode(spark):
    import numpy as np

    from adtk_spark.operators.multimodal import (
        bmp_encode, extract_features, synthetic_bmp_media,
    )

    media = synthetic_bmp_media(spark, 12)
    feats = {r["doc_id"]: r for r in extract_features(media).collect()}
    assert len(feats) == 12
    # the Spark-path feature must equal the driver-side luma mean of the
    # SAME deterministic image -> proves a real decode happened
    rng = np.random.RandomState(7)  # seed + i for i=0
    arr = rng.randint(0, 256, size=(24, 32, 3), dtype=np.uint8)
    y = np.round(0.299 * arr[..., 0] + 0.587 * arr[..., 1]
                 + 0.114 * arr[..., 2]).astype(np.uint8)
    assert abs(feats["bmp0"]["px_mean"] - y.mean()) < 1e-9


def test_wav_codec_roundtrip():
    import numpy as np

    from adtk_spark.operators.multimodal import wav_decode, wav_encode

    rng = np.random.RandomState(3)
    pcm = rng.randint(-32768, 32767, size=4000, dtype=np.int16)
    x, rate = wav_decode(wav_encode(pcm, 8000))
    assert rate == 8000
    assert np.allclose(x * 32768.0, pcm, atol=0.5)


def test_extract_audio_features_real_wav_decode(spark):
    """Real end-to-end audio path: WAV payloads decode via the stdlib
    codec inside mapInPandas; the spectral centroid of a harmonic tone
    must sit between its fundamental and first harmonic, and a
    driver-side numpy replay of one row must agree exactly."""
    import numpy as np

    from adtk_spark.operators.multimodal import (
        extract_audio_features, synthetic_wav_media, wav_decode,
    )

    media = synthetic_wav_media(spark, 10, sample_rate=8000)
    feats = {r["doc_id"]: r for r in extract_audio_features(media).collect()}
    assert len(feats) == 10
    for i in range(10):
        f0 = 100.0 + 40.0 * (i % 17)
        r = feats[f"wav{i}"]
        assert r["duration_sec"] == pytest.approx(0.25, abs=1e-6)
        assert 0.2 < r["rms"] < 0.6
        assert f0 * 0.8 < r["spectral_centroid_hz"] < 2 * f0 * 1.2, i

    # exact replay of row 0 on the driver
    payload = bytes(media.where("doc_id = 'wav0'").first()["media"])
    x, rate = wav_decode(payload)
    assert feats["wav0"]["rms"] == pytest.approx(
        float(np.sqrt(np.mean(x * x))), abs=1e-12)


def test_media_stats_match_fixture_ground_truth(spark):
    """The committed contract fixtures pair BINARY payloads with their
    ground-truth decoded arrays (tools/gen_media_fixture.py). image_stats
    / audio_stats decode the payloads through the real codecs inside
    mapInPandas; every statistic must equal a driver-side recompute from
    the ground-truth arrays BIT-FOR-BIT (exact integer sums, single IEEE
    divisions) — the same invariant the DuckDB oracle checks in the
    driver contract (image_features / audio_features)."""
    import math
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from adtk_spark.operators.multimodal import audio_stats, image_stats

    fx = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "fixtures")
    if not os.path.exists(os.path.join(fx, "media_bmp.parquet")):
        pytest.skip("media fixtures not generated")

    img = {r["doc_id"]: r for r in image_stats(
        spark.read.parquet(os.path.join(fx, "media_bmp.parquet"))).collect()}
    truth = pq.read_table(os.path.join(fx, "media_bmp_pixels.parquet")).to_pylist()
    assert len(img) == len(truth) == 50
    for row in truth:
        px = np.asarray(row["pixels"], dtype=np.int64)
        n, s, ssq = px.size, int(px.sum()), int((px * px).sum())
        got = img[row["doc_id"]]
        assert got["n_px"] == n
        assert got["px_mean"] == s / n  # bitwise
        assert got["px_std"] == math.sqrt((ssq - s * s / n) / n)

    aud = {r["doc_id"]: r for r in audio_stats(
        spark.read.parquet(os.path.join(fx, "media_wav.parquet"))).collect()}
    truth = pq.read_table(os.path.join(fx, "media_wav_samples.parquet")).to_pylist()
    assert len(aud) == len(truth) == 50
    for row in truth:
        v = np.asarray(row["samples"], dtype=np.int64)
        n, rate = v.size, row["sample_rate"]
        ssq = int((v * v).sum())
        c = int(((v[:-1] < 0) != (v[1:] < 0)).sum())
        got = aud[row["doc_id"]]
        assert got["n_samples"] == n
        assert got["duration_sec"] == n / rate
        assert got["rms"] == math.sqrt(ssq / n) / 32768.0
        assert got["zcr_hz"] == (c / (n - 1)) * rate / 2.0


def test_dedup_groups_connected_components(spark):
    """Min-label propagation over dup pairs: two components (one a
    3-edge chain, so convergence needs >1 round), plus a singleton that
    only appears when docs are passed."""
    from adtk_spark.operators.corpus import dedup_groups

    pairs = spark.createDataFrame(
        [("b", "c"), ("c", "d"), ("d", "e"),   # chain: all -> b
         ("x", "y")],                           # pair: both -> x
        "id_a string, id_b string")
    docs = spark.createDataFrame([("b",), ("c",), ("d",), ("e",),
                                  ("x",), ("y",), ("solo",)],
                                 "doc_id string")
    got = {r["doc_id"]: r["group_id"]
           for r in dedup_groups(pairs, docs).collect()}
    assert got == {"b": "b", "c": "b", "d": "b", "e": "b",
                   "x": "x", "y": "x", "solo": "solo"}

    got_pairs_only = {r["doc_id"]: r["group_id"]
                      for r in dedup_groups(pairs).collect()}
    assert "solo" not in got_pairs_only
    assert got_pairs_only["e"] == "b"


def test_dedup_groups_stars_matches_label_propagation(spark):
    """The O(log n) alternating-stars CC must produce identical groups
    to label propagation — checked on a seeded random graph plus a
    40-node chain (the shape where label propagation needs 40 rounds
    but stars needs O(log 40))."""
    import random

    from adtk_spark.operators.corpus import dedup_groups

    rng = random.Random(17)
    nodes = [f"n{i:03d}" for i in range(60)]
    edges = [tuple(sorted(rng.sample(nodes, 2))) for _ in range(45)]
    chain = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(39)]
    pairs = spark.createDataFrame(sorted(set(edges)) + chain,
                                  "id_a string, id_b string")
    docs = spark.createDataFrame(
        [(n,) for n in nodes + [f"c{i:03d}" for i in range(40)] + ["lone"]],
        "doc_id string")

    lab = {r["doc_id"]: r["group_id"]
           for r in dedup_groups(pairs, docs, max_iter=64).collect()}
    stars = {r["doc_id"]: r["group_id"]
             for r in dedup_groups(pairs, docs, algorithm="stars",
                                   max_iter=64).collect()}
    assert stars == lab
    assert stars["c039"] == "c000" and stars["lone"] == "lone"


def test_embedding_dedup_groups_composition(spark):
    """Embedding near-dup pairs feed the same CC grouping operator —
    the modality-agnostic survivor-selection composition."""
    from adtk_spark.operators.ann import embedding_dup_pairs, ivf_fit
    from adtk_spark.operators.corpus import dedup_groups

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centers = ivf_fit(emb, n_lists=4, sample=200)
    pairs = embedding_dup_pairs(emb, centers, threshold=0.95)
    groups = dedup_groups(pairs, emb.select("vec_id"), id_col="vec_id")
    got = {r["vec_id"]: r["group_id"] for r in groups.collect()}
    assert len(got) == emb.count()
    # every canonical id is its own group representative
    for gid in set(got.values()):
        assert got[gid] == gid
    # pairs imply same group
    for r in pairs.collect():
        assert got[r["id_a"]] == got[r["id_b"]]


def test_model_persistence_roundtrip(spark, tmp_path):
    """Durable fit/predict split: fitted bounds committed to the
    catalog, read back by a fresh catalog object, and applied with
    label parity — the train-once / score-later loop the streaming
    scorer also consumes."""
    from adtk_spark.operators.data import validate_series
    from adtk_spark.operators.detectors import persist_ad_detect, persist_ad_fit
    from adtk_spark.sources.catalog import TierCatalog
    from adtk_spark.sources.tokens import token_corpus, token_series

    raw = validate_series(
        token_series(token_corpus(spark, 1000, n_sources=4, seed=91)))
    bounds = persist_ad_fit(raw, window=5, c=3.0, min_periods=3)
    cat = TierCatalog(str(tmp_path / "cat"))
    cat.commit(bounds, "model_persist_ad", {"window": 5, "c": 3.0})

    cat2 = TierCatalog(str(tmp_path / "cat"))  # fresh handle (new job)
    loaded = cat2.read(spark, "model_persist_ad").drop("snap")
    want = {(r["source"], r["ts"]): r["label"]
            for r in persist_ad_detect(raw, bounds, window=5,
                                       min_periods=3).collect()}
    got = {(r["source"], r["ts"]): r["label"]
           for r in persist_ad_detect(raw, loaded, window=5,
                                      min_periods=3).collect()}
    assert got == want


def test_lm_unigram_fit_score(spark):
    import math

    from adtk_spark.operators.corpus import lm_unigram_fit, lm_unigram_score

    docs = spark.createDataFrame(
        [("d1", "a a b"), ("d2", "a c")], "doc_id string, text string")
    # full-vocab model needs explicit opt-in: the default prunes at
    # min_count=5 (broadcast-safety) — see test_lm_safe_default
    counts, n, v = lm_unigram_fit(docs, min_count=1)
    assert (n, v) == (5, 3)
    got = {r["doc_id"]: (r["n_words"], r["avg_logp"]) for r in
           lm_unigram_score(docs, counts, n, v, with_ppl=False).collect()}
    # add-one smoothing over N+V=8: p(a)=4/8, p(b)=p(c)=2/8
    q = lambda p: round(math.log(p), 9)  # noqa: E731 — the 1e-9 grid
    assert got["d1"][0] == 3
    assert abs(got["d1"][1] - (2 * q(0.5) + q(0.25)) / 3) < 1e-12
    assert abs(got["d2"][1] - (q(0.5) + q(0.25)) / 2) < 1e-12

    # min_count pruning: 'b'/'c' fall out of the model and score as
    # unseen (count 0), but the normalizer keeps the unpruned totals
    counts2, n2, v2 = lm_unigram_fit(docs, min_count=2)
    assert (n2, v2) == (5, 3) and counts2.count() == 1
    got2 = {r["doc_id"]: r["avg_logp"] for r in
            lm_unigram_score(docs, counts2, n2, v2).collect()}
    assert abs(got2["d2"] - (q(0.5) + q(1 / 8)) / 2) < 1e-12


def test_ngram_contamination_golden(spark):
    """Decontamination overlap check: known 5-gram overlap fractions,
    docs shorter than n contribute their truncated gram, NULL-text
    docs are restored with n_grams=0 / NULL hit_frac."""
    from adtk_spark.operators.corpus import ngram_contamination

    bench = spark.createDataFrame(
        [("b1", "the quick brown fox jumps")], "doc_id string, text string")
    docs = spark.createDataFrame(
        [("c1", "the quick brown fox jumps today"),   # 2 grams, 1 hit
         ("c2", "completely different words here now yes"),  # 2 grams, 0
         ("c3", "short doc"),                          # 1 truncated gram
         ("c4", None)],
        "doc_id string, text string")
    got = {r["doc_id"]: (r["n_grams"], r["n_hit"], r["hit_frac"])
           for r in ngram_contamination(docs, bench, n=5).collect()}
    assert got["c1"] == (2, 1, 0.5)
    assert got["c2"] == (2, 0, 0.0)
    assert got["c3"] == (1, 0, 0.0)
    assert got["c4"] == (0, 0, None)


def test_lm_safe_default_and_empty_docs(spark):
    """r03 VERDICT item #3 + ADVICE: (a) the DEFAULT fit prunes at
    min_count=5 — the unpruned broadcast-hazard vocab requires explicit
    min_count=1; (b) token-less documents survive scoring with
    n_words=0 and NULL avg_logp instead of silently vanishing."""
    from adtk_spark.operators.corpus import lm_unigram_fit, lm_unigram_score

    docs = spark.createDataFrame(
        [("d1", "a a b"), ("d2", "a c"), ("d3", None)],
        "doc_id string, text string")
    counts, n, v = lm_unigram_fit(docs)  # default: pruned
    assert counts.count() == 0  # every word < 5 occurrences -> pruned
    assert (n, v) == (5, 3)  # totals stay unpruned (proper smoothing)
    got = {r["doc_id"]: (r["n_words"], r["avg_logp"]) for r in
           lm_unigram_score(docs, counts, n, v).collect()}
    assert set(got) == {"d1", "d2", "d3"}  # token-less doc restored
    assert got["d3"] == (0, None)
    assert got["d1"][0] == 3 and got["d1"][1] is not None


def test_lm_score_partition_invariant(spark):
    """The decimal-quantized sum makes avg_logp BIT-identical across
    partition layouts — the reproducible-filtering guarantee."""
    from adtk_spark.operators.corpus import lm_unigram_fit, lm_unigram_score

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    counts, n, v = lm_unigram_fit(docs)
    a = {r["doc_id"]: r["avg_logp"]
         for r in lm_unigram_score(docs, counts, n, v).collect()}
    b = {r["doc_id"]: r["avg_logp"]
         for r in lm_unigram_score(
             docs.repartition(13), counts, n, v,
             broadcast_model=False).collect()}
    assert a == b  # exact equality, not approx


def test_split_by_group_atomic_and_stable(spark):
    """Every near-dup component lands entirely in one split (leakage
    invariant), the assignment is stable under repartitioning, and the
    test fraction is near the requested ratio."""
    from adtk_spark.operators.corpus import split_by_group

    import pyspark.sql.functions as F

    docs = spark.range(400).select(
        F.concat(F.lit("doc"), F.col("id")).alias("doc_id"))
    # synthetic components: 4 docs per group
    groups = docs.select(
        "doc_id",
        F.concat(F.lit("g"),
                 (F.regexp_extract("doc_id", r"(\d+)", 1).cast("long") / 4)
                 .cast("long").cast("string")).alias("group_id"))
    out = split_by_group(docs, groups, test_ratio=0.25)
    # group-atomicity: one distinct split value per group
    mixed = (out.groupBy("group_id")
             .agg(F.countDistinct("split").alias("k"))
             .where(F.col("k") > 1).count())
    assert mixed == 0
    frac = out.where(F.col("split") == "test").count() / 400
    assert 0.10 < frac < 0.40  # 100 groups, ratio 0.25
    again = {(r["doc_id"], r["split"])
             for r in split_by_group(docs.repartition(13), groups,
                                     test_ratio=0.25).collect()}
    assert again == {(r["doc_id"], r["split"]) for r in out.collect()}


def test_repetition_stats_golden(spark):
    """Hand-computed bigram repetition fractions, tie-breaks, and the
    short-doc (< n words) zero row."""
    from adtk_spark.operators.corpus import repetition_stats

    rows = [
        ("d1", "a b a b a b"),   # bigrams: "a b"x3, "b a"x2; chars=11
        ("d2", "x y z"),         # "x y", "y z" once each: no dups
        ("d3", "solo"),          # < 2 words
        ("d4", "q q q q"),       # "q q" x3; chars=7
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(df, n=2).collect()}
    assert got["d1"]["n_grams"] == 5 and got["d1"]["top_gram"] == "a b"
    assert got["d1"]["top_frac"] == round(3 * 3 / 11, 6)
    assert got["d1"]["dup_frac"] == round((3 * 3 + 2 * 3) / 11, 6)
    assert got["d2"]["dup_frac"] == 0.0 and got["d2"]["n_grams"] == 2
    assert got["d2"]["top_gram"] == "x y"  # tie at cnt=1 -> lexicographic
    assert got["d3"]["n_grams"] == 0 and got["d3"]["top_gram"] is None
    assert got["d3"]["top_frac"] == 0.0 and got["d3"]["dup_frac"] == 0.0
    assert got["d4"]["top_gram"] == "q q" and got["d4"]["top_frac"] == round(9 / 7, 6)


def test_normalize_dedup_collapses_variants(spark):
    """Case/punctuation/whitespace variants share one normalized hash;
    genuinely different text does not."""
    from adtk_spark.operators.corpus import dedup_exact_normalized, normalize_text

    rows = [
        ("d1", "Hello, World!"),
        ("d2", "hello   world"),
        ("d3", "HELLO WORLD."),
        ("d4", "goodbye world"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    norm = {r["doc_id"]: r["norm_text"] for r in normalize_text(df).collect()}
    assert norm["d1"] == norm["d2"] == norm["d3"] == "hello world"
    out = {r["keep_id"]: r["n_copies"] for r in dedup_exact_normalized(df).collect()}
    assert out == {"d1": 3, "d4": 1}


def test_hash_sample_deterministic_and_composable(spark):
    """Same (salt, key) -> same members on every run and partitioning;
    different salts are independent; rate is approximately honored."""
    from adtk_spark.operators.corpus import hash_sample

    import pyspark.sql.functions as F

    docs = spark.range(2000).select(
        F.concat(F.lit("doc"), F.col("id")).alias("doc_id"))
    s1 = {r["doc_id"] for r in hash_sample(docs, 0.2).collect()}
    s2 = {r["doc_id"] for r in hash_sample(docs.repartition(17), 0.2).collect()}
    assert s1 == s2
    assert 0.15 < len(s1) / 2000 < 0.25
    # monotone in rate: a wider sample contains the narrower one
    s3 = {r["doc_id"] for r in hash_sample(docs, 0.5).collect()}
    assert s1 <= s3
    # a different salt draws an (approximately) independent sample
    s4 = {r["doc_id"] for r in hash_sample(docs, 0.2, salt="other").collect()}
    inter = len(s1 & s4) / 2000
    assert 0.01 < inter < 0.09  # ~0.04 expected


def _lang_docs(spark, counts: dict):
    """n docs per lang with globally unique string keys."""
    import pyspark.sql.functions as F

    parts = []
    base = 0
    for lang, n in counts.items():
        parts.append(
            spark.range(base, base + n).select(
                F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
                F.lit(lang).alias("lang")))
        base += n
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def test_stratified_sample_per_stratum_membership(spark):
    """Each stratum keeps rows at its own rate with hash_sample's
    membership function: rate 1.0 keeps everything, unlisted strata
    fall to the 0.0 default, and the sample is repartition-stable."""
    from adtk_spark.operators.corpus import stratified_sample

    docs = _lang_docs(spark, {"en": 1000, "de": 400, "zh": 300})
    rates = {"en": 0.3, "de": 1.0}
    got = stratified_sample(docs, rates).groupBy("lang").count().collect()
    by = {r["lang"]: r["count"] for r in got}
    assert by["de"] == 400            # rate 1.0: all kept
    assert "zh" not in by             # unlisted: default 0.0 drops
    assert 240 < by["en"] < 360       # ~0.3 of 1000
    s1 = {r["doc_id"] for r in stratified_sample(docs, rates).collect()}
    s2 = {r["doc_id"]
          for r in stratified_sample(docs.repartition(17), rates).collect()}
    assert s1 == s2


def test_mixture_budget_golden(spark):
    """Hand-checkable budget: en=800/de=100/fr=100 docs at targets
    (0.5, 0.25, 0.25) -> S = min(800/.5, 100/.25, 100/.25) = 400, so
    de/fr bind at rate 1.0, en downsamples to 0.25, untargeted zh gets
    rate 0; budgets are the exact per-stratum shares of S."""
    from adtk_spark.operators.corpus import mixture_budget

    docs = _lang_docs(spark, {"en": 800, "de": 100, "fr": 100, "zh": 50})
    out = {r["lang"]: r for r in mixture_budget(
        docs, {"en": 0.5, "de": 0.25, "fr": 0.25}).collect()}
    assert out["en"]["available"] == 800
    assert out["en"]["rate"] == 0.25 and out["en"]["budget"] == 200
    assert out["de"]["rate"] == 1.0 and out["de"]["budget"] == 100
    assert out["fr"]["rate"] == 1.0 and out["fr"]["budget"] == 100
    assert out["zh"]["target_w"] == 0.0
    assert out["zh"]["rate"] == 0.0 and out["zh"]["budget"] == 0


def _window_partition_sizes(df) -> list[int]:
    """The partition-spec length of every WindowExec in df's physical
    plan."""
    sizes, todo = [], [df._jdf.queryExecution().sparkPlan()]
    while todo:
        node = todo.pop()
        if node.getClass().getSimpleName() == "WindowExec":
            sizes.append(node.partitionSpec().size())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return sizes


def test_mixture_budget_no_unpartitioned_window(spark):
    """The global min is not an unpartitioned window, which moves every
    row to one partition and logs a WARN each time it runs."""
    from adtk_spark.operators.corpus import mixture_budget

    docs = _lang_docs(spark, {"en": 8, "de": 2})
    assert _window_partition_sizes(docs.select(F.count("*").over(Window.partitionBy()))) == [0]
    assert 0 not in _window_partition_sizes(mixture_budget(docs, {"en": 0.5, "de": 0.5}))


def test_mixture_budget_rejects_unnormalized_targets(spark):
    from adtk_spark.operators.corpus import mixture_budget

    docs = _lang_docs(spark, {"en": 10})
    try:
        mixture_budget(docs, {"en": 0.5, "de": 0.2})
    except ValueError as e:
        assert "sum to 1" in str(e)
    else:
        raise AssertionError("expected ValueError on unnormalized targets")


def test_mixture_epochs_upsampling(spark):
    """max_epochs=2 with equal targets: the binding stratum repeats
    every doc exactly twice (epoch 0 and 1), the abundant stratum
    downsamples below 1 epoch, a fractional-rate stratum lands between
    1x and 2x with every doc present at least once; repartition-stable."""
    from adtk_spark.operators.corpus import mixture_budget, mixture_sample_epochs

    docs = _lang_docs(spark, {"en": 800, "de": 100, "fr": 150})
    targets = {"en": 1 / 3, "de": 1 / 3, "fr": 1 / 3}
    # S = min(800*2/w, 100*2/w, 150*2/w) -> de binds at rate 2.0;
    # fr rate = 200/150 = 4/3; en rate = 200/800 = 0.25
    b = {r["lang"]: r["rate"] for r in mixture_budget(
        docs, targets, max_epochs=2.0).collect()}
    assert b["de"] == 2.0 and abs(b["fr"] - 4 / 3) < 1e-9
    out = mixture_sample_epochs(docs, targets, 2.0)
    by = {r["lang"]: r["count"]
          for r in out.groupBy("lang").count().collect()}
    assert by["de"] == 200                     # every doc exactly twice
    assert 150 <= by["fr"] <= 300 and by["fr"] > 160  # ~200 expected
    assert 120 < by["en"] < 280                # ~200 expected (0.25x)
    # every binding-stratum doc carries epochs {0,1}; floor copies are
    # unconditional so every fr doc appears at least once
    de_epochs = {(r["doc_id"], r["epoch"]) for r in
                 out.where(F.col("lang") == "de").collect()}
    assert len(de_epochs) == 200
    fr_ids = {r["doc_id"] for r in out.where(F.col("lang") == "fr").collect()}
    assert len(fr_ids) == 150
    s1 = {(r["doc_id"], r["epoch"]) for r in out.collect()}
    s2 = {(r["doc_id"], r["epoch"]) for r in
          mixture_sample_epochs(docs.repartition(17), targets, 2.0).collect()}
    assert s1 == s2
    try:
        mixture_budget(docs, targets, max_epochs=0.5)
    except ValueError:
        pass
    else:
        raise AssertionError("expected ValueError for max_epochs < 1")


def test_mixture_sample_realizes_budget(spark):
    """End-to-end: the binding stratum is fully kept, untargeted
    strata vanish, abundant strata land near their budget, and the
    sample is deterministic under repartitioning."""
    from adtk_spark.operators.corpus import mixture_sample

    docs = _lang_docs(spark, {"en": 800, "de": 100, "fr": 100, "zh": 50})
    targets = {"en": 0.5, "de": 0.25, "fr": 0.25}
    out = mixture_sample(docs, targets)
    by = {r["lang"]: r["count"]
          for r in out.groupBy("lang").count().collect()}
    assert by["de"] == 100 and by["fr"] == 100
    assert "zh" not in by
    assert 160 < by["en"] < 240       # budget 200 in expectation
    s1 = {r["doc_id"] for r in out.collect()}
    s2 = {r["doc_id"]
          for r in mixture_sample(docs.repartition(13), targets).collect()}
    assert s1 == s2


def test_stratified_take_exact_sizes(spark):
    """Exactly min(k, n) per stratum; pre-filtered path == exact
    single-sort path == itself under repartitioning; a too-thin margin
    raises instead of silently dropping top-k rows."""
    from adtk_spark.operators.corpus import stratified_take

    docs = _lang_docs(spark, {"en": 500, "de": 120, "zh": 8})
    out = stratified_take(docs, 20)
    by = {r["lang"]: r["count"]
          for r in out.groupBy("lang").count().collect()}
    assert by == {"en": 20, "de": 20, "zh": 8}
    ids = {r["doc_id"] for r in out.collect()}
    exact = {r["doc_id"]
             for r in stratified_take(docs, 20, prefilter_margin=None).collect()}
    assert ids == exact
    again = {r["doc_id"]
             for r in stratified_take(docs.repartition(17), 20).collect()}
    assert ids == again
    try:
        stratified_take(docs, 100, prefilter_margin=0.05)
    except ValueError as e:
        assert "underflow" in str(e)
    else:
        raise AssertionError("expected underflow ValueError")


def test_quantile_threshold_count_rule(spark):
    """Threshold = smallest value whose cumulative share exceeds p:
    scores 1..8 at p=0.25 give thr=3 (2/8 is NOT > 0.25, 3/8 is); an
    all-ties stratum keeps everything (value-level all-or-nothing)."""
    import pyspark.sql.functions as F

    from adtk_spark.operators.corpus import (
        quality_quantile_gate, quantile_thresholds)

    rows = [("en", f"e{i}", float(i)) for i in range(1, 9)]
    rows += [("zh", f"z{i}", 5.0) for i in range(4)]
    docs = spark.createDataFrame(rows, "lang string, doc_id string, s double")
    thr = {r["lang"]: (r["n"], r["q_thr"])
           for r in quantile_thresholds(docs, 0.25, score_col="s").collect()}
    assert thr["en"] == (8, 3.0)
    assert thr["zh"] == (4, 5.0)
    kept = quality_quantile_gate(docs, 0.25, score_col="s")
    by = {r["lang"]: r["count"]
          for r in kept.groupBy("lang").count().collect()}
    assert by["en"] == 6 and by["zh"] == 4
    below = quality_quantile_gate(docs, 0.25, score_col="s", keep="below")
    ids = {r["doc_id"] for r in below.collect()}
    assert ids == {"e1", "e2"}
    # stable under a different partitioning
    kept13 = quality_quantile_gate(docs.repartition(13), 0.25, score_col="s")
    assert {r["doc_id"] for r in kept13.collect()} == {
        r["doc_id"] for r in kept.collect()}
    try:
        quality_quantile_gate(docs, 0.25, score_col="s", keep="top")
    except ValueError:
        pass
    else:
        raise AssertionError("expected ValueError on bad keep")


def test_winsorize_golden(spark):
    """Clip bounds are observed values by the count rule: for 1..20 at
    (0.05, 0.95), lo=2 (1/20 is NOT > 0.05) and hi=19 (19/20 >= 0.95);
    NULLs pass through NULL; row count is preserved; p checks raise."""
    import pyspark.sql.functions as F

    from adtk_spark.operators.corpus import winsorize

    rows = [("s", float(i)) for i in range(1, 21)] + [("s", None)]
    df = spark.createDataFrame(rows, "source string, value double")
    out = winsorize(df, 0.05, 0.95, strata_col="source",
                    score_col="value", out_col="w")
    vals = sorted((r["w"] for r in out.collect()),
                  key=lambda x: (x is None, x))
    assert len(vals) == 21 and vals[-1] is None
    ws = [v for v in vals if v is not None]
    assert min(ws) == 2.0 and max(ws) == 19.0
    assert ws.count(2.0) == 2 and ws.count(19.0) == 2  # 1->2, 20->19
    assert sorted(set(ws)) == [float(i) for i in range(2, 20)]
    try:
        winsorize(df, 0.9, 0.1)
    except ValueError:
        pass
    else:
        raise AssertionError("expected ValueError for p_lo >= p_hi")


def test_pack_sequences_invariants(spark):
    """Contiguous packing: offsets are a gap-free token layout per
    source (each doc starts where the previous ended), every bin except
    possibly a source's last is full, and the assignment is stable
    under repartitioning."""
    import pyspark.sql.functions as F

    from adtk_spark.operators.corpus import pack_sequences

    rows = [("a", f"d{i:03d}", 100 + (i * 37) % 400) for i in range(50)]
    rows += [("b", f"e{i:03d}", 1 + (i * 7) % 30) for i in range(40)]
    df = spark.createDataFrame(rows, "source string, doc_id string, n_tok long")
    out = pack_sequences(df, max_tokens=512).orderBy("source", "doc_id").collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        pos = 0
        for r in rs:
            assert r["bin_id"] * 512 + r["bin_offset"] == pos, (src, r)
            pos += r["n_tok"]
        # bins are full up to the last: every bin id up to the max is hit
        assert {r["bin_id"] for r in rs} == set(range(max(r["bin_id"] for r in rs) + 1))
    out2 = pack_sequences(df.repartition(11), max_tokens=512)
    assert {tuple(r) for r in out2.collect()} == {tuple(r) for r in out}


def test_zipf_slope_detects_flat_vs_natural(spark):
    """A perfect power-law corpus recovers its exponent; a flat
    (uniform) corpus reads ~0 — the corpus-health signal."""
    import pyspark.sql.functions as F

    from adtk_spark.operators.corpus import zipf_slope

    # power-law: word_r appears round(1000 * r^-1) times
    rows = []
    for r in range(1, 40):
        n = max(1, round(1000 / r))
        for i in range(n):
            rows.append(("pl", f"w{r:02d}"))
    for r in range(40):  # uniform: every word 5 times
        rows.extend([("flat", f"u{r:02d}")] * 5)
    docs = (spark.createDataFrame(rows, "source string, word string")
            .groupBy("source")
            .agg(F.concat_ws(" ", F.collect_list("word")).alias("text")))
    got = {r["source"]: r["zipf_slope"] for r in zipf_slope(docs).collect()}
    assert -1.15 < got["pl"] < -0.85   # ~ -1 by construction
    assert abs(got["flat"]) < 0.05
    # many documents per source: identical slopes at any partitioning
    import random

    rng = random.Random(986)
    many = spark.createDataFrame(
        [(s, " ".join(f"w{int(rng.paretovariate(1.2))}" for _ in range(30)))
         for s in ("x", "y", "z") for _ in range(120)],
        "source string, text string")
    assert_layout_invariant(spark, many, zipf_slope)


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=10, deadline=None)
@given(toks=st.lists(st.integers(min_value=1, max_value=900),
                     min_size=1, max_size=40))
def test_pack_sequences_property(spark, toks):
    """Property: gap-free layout (every doc starts where the previous
    ended), offsets within [0, max_tokens), and total bins =
    ceil-by-construction of the cumulative layout."""
    import pyspark.sql.functions as F

    from adtk_spark.operators.corpus import pack_sequences

    rows = [("s", f"d{i:04d}", t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "source string, doc_id string, n_tok long")
    out = pack_sequences(df, max_tokens=256).orderBy("doc_id").collect()
    pos = 0
    for r in out:
        assert 0 <= r["bin_offset"] < 256
        assert r["bin_id"] * 256 + r["bin_offset"] == pos, toks
        pos += r["n_tok"]
    # last doc's bin is the layout's final bin
    assert out[-1]["bin_id"] == (pos - toks[-1]) // 256


def test_embedding_quality_flags(spark):
    """Zero vectors, NaN components, NULL components, NULL arrays and
    dimension drift are each flagged; healthy vectors pass with the
    exact L2 norm."""
    import math

    from adtk_spark.operators.ann import embedding_quality

    rows = [
        (1, [3.0, 4.0]),            # healthy: norm 5
        (2, [0.0, 0.0]),            # zero vector
        (3, [1.0, float("nan")]),   # NaN component
        (4, [None, 2.0]),           # NULL component
        (5, None),                  # NULL array
        (6, [1.0, 2.0, 2.0]),       # dimension drift (expected 2)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r.asDict()
           for r in embedding_quality(df, expected_dim=2).collect()}
    assert got[1]["norm"] == 5.0 and got[1]["is_zero"] == 0 and got[1]["is_bad"] == 0
    assert got[2]["is_zero"] == 1 and got[2]["is_bad"] == 0
    # NaN components are nulled by the DECIMAL quantization, so the
    # norm covers the remaining components; is_bad carries the signal
    assert got[3]["is_bad"] == 1 and got[3]["norm"] == 1.0
    assert got[4]["is_bad"] == 1
    assert got[5]["n_dims"] == 0 and got[5]["is_bad"] == 1
    assert got[6]["dim_drift"] == 1 and got[1]["dim_drift"] == 0


@settings(max_examples=10, deadline=None)
@given(vals=st.lists(st.integers(min_value=-50, max_value=50),
                     min_size=1, max_size=60),
       p=st.floats(min_value=0.01, max_value=0.99))
def test_count_rule_threshold_property(spark, vals, p):
    """Property vs a direct python reference: the threshold is the
    smallest distinct value whose cumulative count strictly exceeds
    p*n, and winsorize's (lo, hi) bounds follow their (>, >=) rules —
    for any multiset (ties included) and any p. Guards the machinery
    under quality_quantile_gate, winsorize, and stratified_take."""
    from adtk_spark.operators.corpus import quantile_thresholds, winsorize

    fvals = [float(v) for v in vals]
    n = len(fvals)
    sv = sorted(set(fvals))

    def ref_thr(rule_ge: bool, prob: float) -> float:
        cum = 0
        for v in sv:
            cum += fvals.count(v)
            if (cum >= prob * n) if rule_ge else (cum > prob * n):
                return v
        return sv[-1]

    df = spark.createDataFrame(
        [("s", v) for v in fvals], "source string, value double")
    thr = quantile_thresholds(
        df, p, score_col="value", strata_col="source").collect()[0]
    assert thr["n"] == n
    assert thr["q_thr"] == ref_thr(False, p)

    p_lo, p_hi = min(p, 1 - p) / 2, max(p, 1 - p)
    lo, hi = ref_thr(False, p_lo), ref_thr(True, p_hi)
    out = [r["w"] for r in winsorize(
        df, p_lo, p_hi, strata_col="source", score_col="value",
        out_col="w").collect()]
    assert sorted(out) == sorted(min(max(v, lo), hi) for v in fvals)


def test_duplicate_spans_golden(spark):
    """Hand-built corpus: a 5-word phrase shared by two docs yields one
    merged span in each (3 overlapping 3-grams -> one island); a
    within-doc repeat counts toward df and yields two separate islands
    (gap > k); a unique doc emits nothing; repartition-stable."""
    from adtk_spark.operators.corpus import duplicate_spans

    rows = [
        (1, "x1 x2 THE QUICK BROWN FOX JUMPS x3"),
        (2, "y1 THE QUICK BROWN FOX JUMPS"),
        (3, "u v w p q r u v w"),
        (4, "totally unique words nothing shared here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_id"], r["span_start"], r["span_end"], r["n_grams"])
           for r in duplicate_spans(docs, k=3).collect()}
    assert got == {
        (1, 2, 6, 3),   # THE..JUMPS at words 2-6, 3 merged grams
        (2, 1, 5, 3),
        (3, 0, 2, 1),   # u v w, first occurrence
        (3, 6, 8, 1),   # u v w again, gap 6 > k -> its own span
    }
    got13 = {(r["doc_id"], r["span_start"], r["span_end"], r["n_grams"])
             for r in duplicate_spans(docs.repartition(13), k=3).collect()}
    assert got13 == got


@settings(max_examples=8, deadline=None)
@given(seeds=st.lists(st.integers(min_value=0, max_value=5),
                      min_size=6, max_size=60))
def test_duplicate_spans_property(spark, seeds):
    """Randomized parity vs a direct python reference on a tiny
    vocabulary (ties and repeats everywhere): positions whose k-gram
    occurs >= 2 times corpus-wide, merged with the gap > k rule."""
    from collections import Counter

    from adtk_spark.operators.corpus import duplicate_spans

    k = 3
    # two docs drawn from the same 6-word vocabulary
    words = [f"w{s}" for s in seeds]
    half = len(words) // 2
    texts = {1: words[:half], 2: words[half:]}
    grams = Counter()
    for ws in texts.values():
        for i in range(len(ws) - k + 1):
            grams[tuple(ws[i:i + k])] += 1
    want = set()
    for doc, ws in texts.items():
        dup_i = [i for i in range(len(ws) - k + 1)
                 if grams[tuple(ws[i:i + k])] >= 2]
        runs, cur = [], None
        for i in dup_i:
            if cur is not None and i - cur[-1] <= k:
                cur.append(i)
            else:
                cur = [i]
                runs.append(cur)
        for r in runs:
            want.add((doc, r[0], r[-1] + k - 1, len(r)))

    df = spark.createDataFrame(
        [(d, " ".join(ws)) for d, ws in texts.items()],
        "doc_id long, text string")
    got = {(r["doc_id"], r["span_start"], r["span_end"], r["n_grams"])
           for r in duplicate_spans(df, k=k).collect()}
    assert got == want, (texts, got, want)


def test_oversized_ivf_cell_split_recovers_pairs(spark):
    """r04 VERDICT item #6: max_cell used to DROP oversized cells from
    candidate generation — silent recall loss exactly where duplicates
    concentrate. With split_oversized (now the default) the oversized
    cell is re-clustered with fresh sub-centroids and every within-
    cluster pair is recovered; a genuinely unsplittable cell (identical
    vectors) is still capped but COUNTED by ivf_cell_stats."""
    import numpy as np

    from adtk_spark.operators.ann import (
        embedding_dup_pairs,
        ivf_assign,
        ivf_cell_stats,
    )

    rng = np.random.RandomState(5)
    rows = []
    for i in range(8):  # direction cluster A (+x)
        rows.append((f"a{i}", [1.0, float(rng.uniform(0, 1e-3))]))
    for i in range(8):  # direction cluster B (+y)
        rows.append((f"b{i}", [float(rng.uniform(0, 1e-3)), 1.0]))
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    centers = [[0.5, 0.5]]  # ONE coarse cell: all 16 rows land in it

    # old behavior: the 16-row cell exceeds max_cell=10 -> all pairs lost
    dropped = embedding_dup_pairs(emb, centers, threshold=0.99,
                                  max_cell=10, split_oversized=False)
    assert dropped.count() == 0

    # split path: sub-centroids separate the euclidean-distant direction
    # clusters; all 2 * C(8,2) = 56 within-cluster pairs come back
    got = {(r["id_a"], r["id_b"])
           for r in embedding_dup_pairs(emb, centers, threshold=0.99,
                                        max_cell=10).collect()}
    assert len(got) == 56
    assert all(a[0] == b[0] for a, b in got)  # never across clusters

    # unsplittable: identical vectors cannot be separated by any
    # centroids -> still capped after split_depth, but measurable
    same = spark.createDataFrame(
        [(f"s{i}", [1.0, 1.0]) for i in range(16)],
        "vec_id string, embedding array<double>")
    assert embedding_dup_pairs(same, centers, threshold=0.99,
                               max_cell=10).count() == 0
    stats = ivf_cell_stats(
        ivf_assign(same, centers, out_col="list_id"), max_cell=10).collect()
    assert len(stats) == 1 and stats[0]["dropped"] == 1
    assert stats[0]["n_vecs"] == 16


def test_vocab_kl_golden(spark):
    """KL(shard || corpus) golden: a shard distributed exactly like the
    corpus scores 0; a disjoint-vocabulary shard scores ln(N/n_s) — both
    reproduced through the operator's own 1e-9 term quantization."""
    import math

    from adtk_spark.operators.corpus import vocab_kl

    # s1: 3x "a", 1x "b"; s2: identical mix -> corpus mix == each shard
    rows = [("s1", 1, "a a a b"), ("s2", 2, "a a a b")]
    d = spark.createDataFrame(rows, "source string, doc_id long, text string")
    got = {r["source"]: (r["n_tokens"], r["n_vocab"], r["kl_nats"])
           for r in vocab_kl(d).collect()}
    assert got["s1"] == (4, 2, 0.0) and got["s2"] == (4, 2, 0.0)

    # disjoint vocab: every shard word has q = c/N with c all inside the
    # shard -> p/q = N/n_s for each word, KL = ln(N/n_s)
    rows2 = [("s1", 1, "a b c"), ("s2", 2, "x y z")]
    d2 = spark.createDataFrame(rows2, "source string, doc_id long, text string")
    got2 = {r["source"]: r["kl_nats"] for r in vocab_kl(d2).collect()}
    t = round((1 / 3) * math.log((1 / 3) / (1 / 6)), 9)
    assert got2["s1"] == round(3 * t, 6) == got2["s2"]


def test_vocab_kl_plan_three_exchanges_no_join(spark):
    import re

    from adtk_spark.operators.corpus import vocab_kl

    d = spark.createDataFrame(
        [("s1", 1, "a b a"), ("s2", 2, "c d")],
        "source string, doc_id long, text string")
    plan = vocab_kl(d)._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 3, plan
    assert "Join" not in plan, plan


def test_lm_bigram_fit_score_golden(spark):
    """Bigram LM golden on a hand corpus: add-one conditionals over
    prefix counts, sub-2-token docs restore-joined as 0/NULL."""
    import math
    from decimal import Decimal

    from adtk_spark.operators.corpus import lm_bigram_fit, lm_bigram_score

    rows = [(1, "a b a b"), (2, "a b"), (3, "x")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    big, pref, v = lm_bigram_fit(d, min_count=1)
    assert v == 3  # a, b, x
    bm = {(r["w1"], r["w2"]): r["cb"] for r in big.collect()}
    assert bm == {("a", "b"): 3, ("b", "a"): 1}
    pm = {r["w1"]: r["cp"] for r in pref.collect()}
    assert pm == {"a": 3, "b": 1}
    got = {r["doc_id"]: (r["n_bigrams"], r["avg_logp"])
           for r in lm_bigram_score(d, big, pref, v).collect()}
    q_ab = Decimal(repr(round(math.log((3 + 1.0) / (3 + 3.0)), 9)))
    q_ba = Decimal(repr(round(math.log((1 + 1.0) / (1 + 3.0)), 9)))
    assert got[1] == (3, float(2 * q_ab + q_ba) / 3)
    assert got[2] == (1, float(q_ab) / 1)
    assert got[3] == (0, None)  # single token, no bigram, still present

    # pruning: min_count=2 drops (b,a) and prefix b -> unseen floor
    big2, pref2, _ = lm_bigram_fit(d, min_count=2)
    got2 = {r["doc_id"]: r["avg_logp"]
            for r in lm_bigram_score(d, big2, pref2, v).collect()}
    q_unseen = Decimal(repr(round(math.log(1.0 / 3.0), 9)))  # cb=0, cp=0
    assert got2[1] == float(2 * q_ab + q_unseen) / 3


def test_lm_bigram_plan_broadcast_joins(spark):
    from adtk_spark.operators.corpus import lm_bigram_fit, lm_bigram_score

    d = spark.createDataFrame(
        [(1, "a b a"), (2, "c d")], "doc_id long, text string")
    big, pref, v = lm_bigram_fit(d, min_count=1)
    plan = lm_bigram_score(d, big, pref, v)._jdf.queryExecution() \
        .executedPlan().toString()
    # both model joins broadcast; only the restore-join + groupBy shuffle
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan or "doc_id" in plan, plan


def test_embedding_contamination_golden(spark):
    """Contamination golden: a planted paraphrase-near eval vector is
    caught, orthogonal ones are not, and the max_eval guard raises."""
    from adtk_spark.operators.ann import embedding_contamination

    tr_rows = [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]),
               (3, [0.8, 0.6, 0.0])]
    ev_rows = [(100, [0.99, 0.14, 0.0]),  # ~ train 1
               (200, [0.0, 0.0, 1.0])]    # orthogonal to all
    tr = spark.createDataFrame(
        tr_rows, "vec_id long, embedding array<float>")
    ev = spark.createDataFrame(
        ev_rows, "eval_id long, embedding array<float>")
    got = {(r["vec_id"], r["eval_id"]): r["cos_sim"]
           for r in embedding_contamination(tr, ev, threshold=0.95).collect()}
    assert (1, 100) in got and got[(1, 100)] > 0.98
    assert all(e != 200 for (_, e) in got)

    import pytest as _pt
    with _pt.raises(ValueError, match="max_eval"):
        embedding_contamination(tr, ev, max_eval=1)


def test_embedding_contamination_plan_broadcast_no_shuffle(spark):
    from adtk_spark.operators.ann import embedding_contamination

    tr = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
    ev = spark.createDataFrame(
        [(9, [0.0, 1.0])], "eval_id long, embedding array<float>")
    plan = embedding_contamination(tr, ev)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_dedup_keep_best_golden(spark):
    """Keeper selection golden: highest score wins the group, id breaks
    ties, NULL scores lose to scored members, singletons keep."""
    from adtk_spark.operators.corpus import dedup_keep_best

    groups = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)],
        "doc_id long, group_id long")
    scores = spark.createDataFrame(
        [(1, 10.0), (2, 30.0), (3, 30.0), (4, 1.0), (5, None)],
        "doc_id long, score double")  # doc 6 missing -> NULL score
    got = {r["doc_id"]: r["keep"]
           for r in dedup_keep_best(groups, scores).collect()}
    assert got == {1: False, 2: True, 3: False,  # 30.0 tie -> lower id
                   4: True,                      # singleton
                   5: True, 6: False}            # both NULL -> lower id


def test_dedup_keep_best_plan(spark):
    import re

    from adtk_spark.operators.corpus import dedup_keep_best

    groups = spark.createDataFrame([(1, 1)], "doc_id long, group_id long")
    scores = spark.createDataFrame([(1, 1.0)], "doc_id long, score double")
    plan = dedup_keep_best(groups, scores)._jdf.queryExecution() \
        .executedPlan().toString()
    # one id join + one group-rank window; rank==1 keeps WindowGroupLimit
    # OUT (every row is returned), so assert the window itself
    assert "row_number()" in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 3, plan


def test_ngram_containment_quote_envelope(spark):
    from adtk_spark.operators.corpus import (
        ngram_containment_pairs, ngram_jaccard_pairs)

    # a short doc quoted whole inside a much longer one: containment of
    # the short side is 1.0, Jaccard is diluted by the long doc's union
    short = "alpha beta gamma delta epsilon"
    long_ = short + " " + " ".join(f"filler{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short), (2, long_), (3, "totally different words here now")],
        "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): (r["containment_a"], r["containment_b"])
           for r in ngram_containment_pairs(docs, threshold=0.8).collect()}
    assert set(got) == {(1, 2)}
    ca, cb = got[(1, 2)]
    assert ca == 1.0          # short fully contained in long
    assert cb < 0.2           # long barely contained in short
    jac = {(r["id_a"], r["id_b"])
           for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    assert (1, 2) not in jac  # the pair Jaccard structurally misses


def test_ngram_containment_max_df_cap_exact_values(spark):
    from adtk_spark.operators.corpus import ngram_containment_pairs

    # hot boilerplate shingle shared by 30 docs: the cap removes it from
    # candidate generation but full-set verification keeps containments
    # exact for pairs that survive via a rare shingle
    a = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(1, a), (2, a + " iota")]
    rows += [(10 + i, f"shared boiler plate w{i} x{i} y{i} z{i}") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    full = {(r["id_a"], r["id_b"]): (r["containment_a"], r["containment_b"])
            for r in ngram_containment_pairs(docs, threshold=0.8,
                                             max_df=None).collect()}
    capped = {(r["id_a"], r["id_b"]): (r["containment_a"], r["containment_b"])
              for r in ngram_containment_pairs(docs, threshold=0.8,
                                               max_df=5).collect()}
    assert (1, 2) in capped
    assert capped[(1, 2)] == full[(1, 2)]


def test_pmi_collocations_entity_beats_function_words(spark):
    """"los angeles" (always together, rare marginals) must out-PMI
    "of the" (frequent pair, huge marginals) even when the latter has a
    higher raw count — the Church & Hanks normalization; min_count
    prunes singleton noise pairs entirely."""
    from adtk_spark.operators.corpus import pmi_collocations

    base = "of the people and of the state and of the union"
    rows = [(i, base + " los angeles") for i in range(6)]
    rows.append((99, "rare singleton paironce only here"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["w1"], r["w2"]): (r["cb"], r["pmi"])
           for r in pmi_collocations(docs, min_count=3, top_k=50).collect()}
    assert ("los", "angeles") in out and ("of", "the") in out
    assert out[("los", "angeles")][0] < out[("of", "the")][0]   # raw count
    assert out[("los", "angeles")][1] > out[("of", "the")][1]   # PMI
    assert not any(w1 == "singleton" for w1, _ in out)          # pruned


def test_pmi_collocations_topk_deterministic(spark):
    from adtk_spark.operators.corpus import pmi_collocations

    rows = [(i, f"alpha beta gamma w{i % 7} delta epsilon") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = [tuple(r) for r in pmi_collocations(docs, min_count=2, top_k=5).collect()]
    b = [tuple(r) for r in
         pmi_collocations(docs.repartition(17), min_count=2, top_k=5).collect()]
    assert sorted(a) == sorted(b) and len(a) == 5


def test_logodds_tokens_separates_group_vocabulary(spark):
    """Group A over-uses "quantum", group B over-uses "finance", both
    share filler: each group's top token must be its own marker with
    positive z, and shared filler must not out-rank it."""
    from adtk_spark.operators.corpus import logodds_tokens

    filler = "the and of to in for with on"
    rows = [(i, filler + " quantum physics quantum", "A") for i in range(10)]
    rows += [(100 + i, filler + " finance market finance", "B") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = logodds_tokens(docs, top_k=3, min_count=5).collect()
    top = {r["source"]: r["w"] for r in out if r["rank"] == 1}
    assert top == {"A": "quantum", "B": "finance"}
    z = {(r["source"], r["w"]): r["z"] for r in out}
    assert z[("A", "quantum")] > 0 and z[("B", "finance")] > 0
    out2 = logodds_tokens(docs.repartition(9), top_k=3, min_count=5).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_doc_novelty_boilerplate_vs_original(spark):
    """Three copies of a template score ~0 novelty (every shingle
    recurs corpus-wide); a one-off doc scores 1.0; production xxhash64
    and portable md5 keys agree; partitioning-invariant."""
    from adtk_spark.operators.corpus import doc_novelty

    tmpl = "click here to subscribe to our amazing newsletter today"
    rows = [(i, tmpl) for i in range(3)]
    rows.append((9, "entirely original prose about migratory songbirds"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in doc_novelty(docs).collect()}
    assert out[0]["novelty"] == 0.0 and out[1]["novelty"] == 0.0
    assert out[9]["novelty"] == 1.0
    assert out[9]["n_shingles"] == out[9]["n_unique"] == 4
    port = {r["doc_id"]: tuple(r)
            for r in doc_novelty(docs, portable=True).collect()}
    assert port == {k: tuple(v) for k, v in out.items()}
    rep = {r["doc_id"]: tuple(r)
           for r in doc_novelty(docs.repartition(5)).collect()}
    assert rep == {k: tuple(v) for k, v in out.items()}


def test_boilerplate_prefixes_injected_header(spark):
    """A source where 60% of docs share an injected 3-token header must
    surface that prefix at rank 1 with frac 0.6; a source of unique
    docs emits nothing above the floor; partitioning-invariant."""
    from adtk_spark.operators.corpus import boilerplate_prefixes

    hdr = "subscribe to newsletter"
    rows = [(i, f"{hdr} article body {i} words here", "crawl") for i in range(6)]
    rows += [(10 + i, f"clean unique document {i} body text", "crawl")
             for i in range(4)]
    rows += [(100 + i, f"doc{i} totally distinct content here", "curated")
             for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = boilerplate_prefixes(docs, n_tokens=3, top_k=2,
                               min_frac=0.5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["source"], r["prefix"], r["n_docs"], r["frac"], r["rank"]) == \
        ("crawl", hdr, 6, 0.6, 1)
    out2 = boilerplate_prefixes(docs.repartition(5), n_tokens=3, top_k=2,
                                min_frac=0.5).collect()
    assert [tuple(x) for x in out] == [tuple(x) for x in out2]


def test_embedding_centroid_drift_detects_shift(spark):
    """Identical halves -> cosine 1.0, shift 0; a deliberately
    translated label drops cosine and grows shift; labels missing on
    one side emit nothing; partitioning-invariant."""
    import numpy as np

    from adtk_spark.operators.ann import embedding_centroid_drift

    rng = np.random.RandomState(5)
    base = {0: rng.randn(8), 1: rng.randn(8)}
    rows_ref, rows_cur = [], []
    for i in range(40):
        lab = i % 2
        v = base[lab] + rng.randn(8) * 0.01
        rows_ref.append((i, [float(x) for x in v], lab))
    for i in range(40):
        lab = i % 2
        v = base[lab] + rng.randn(8) * 0.01
        if lab == 1:
            v = v + 5.0          # drifted class
        rows_cur.append((100 + i, [float(x) for x in v], lab))
    rows_ref.append((900, [1.0] * 8, 7))   # ref-only label
    schema = "vec_id long, embedding array<float>, label int"
    ref = spark.createDataFrame(rows_ref, schema)
    cur = spark.createDataFrame(rows_cur, schema)
    out = {r["label"]: r for r in embedding_centroid_drift(ref, cur).collect()}
    assert set(out) == {0, 1}
    assert out[0]["centroid_cosine"] > 0.999 and out[0]["centroid_shift"] < 0.1
    assert out[1]["centroid_cosine"] < out[0]["centroid_cosine"]
    assert out[1]["centroid_shift"] > 10.0
    assert out[0]["n_ref"] == 20 and out[0]["n_cur"] == 20
    out2 = {r["label"]: tuple(r) for r in
            embedding_centroid_drift(ref.repartition(7),
                                     cur.repartition(3)).collect()}
    assert out2 == {k: tuple(v) for k, v in out.items()}


def test_rare_token_rate_gibberish(spark):
    """A doc of unique hash-like tokens scores 1.0; a doc of corpus-
    common words scores 0.0; occurrence (not type) weighting: repeated
    rare tokens still count per occurrence; partitioning-invariant."""
    from adtk_spark.operators.corpus import rare_token_rate

    common = "the quick brown fox jumps"
    rows = [(i, common) for i in range(10)]         # every word df=10+
    rows.append((90, "xk7q zzv9 qqpl mm2n xk7q"))   # all rare, one repeated
    rows.append((91, common + " xk7q"))             # 1 rare of 6
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in rare_token_rate(docs, min_count=5).collect()}
    assert out[0]["rare_rate"] == 0.0
    assert out[90]["rare_rate"] == 1.0 and out[90]["n_rare"] == 5
    assert out[91]["n_rare"] == 1 and out[91]["n_tokens"] == 6
    out2 = {r["doc_id"]: tuple(r) for r in
            rare_token_rate(docs.repartition(7), min_count=5).collect()}
    assert out2 == {k: tuple(v) for k, v in out.items()}


def test_rare_token_rate_relative_mode(spark):
    """rel_threshold scales with the corpus: the same config flags the
    below-half-mean tokens whether words average 3 or 300 occurrences
    (an absolute floor goes silent as the corpus grows)."""
    from adtk_spark.operators.corpus import rare_token_rate

    rows = [(i, "alpha beta gamma") for i in range(100)]   # mean count high
    rows.append((900, "alpha beta oddball"))               # oddball count 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           rare_token_rate(docs, rel_threshold=0.5).collect()}
    assert out[900]["n_rare"] == 1 and out[900]["n_tokens"] == 3
    assert out[0]["n_rare"] == 0
    # absolute floor of 5 misses it once the corpus mean is irrelevant
    out_abs = {r["doc_id"]: r for r in
               rare_token_rate(docs, min_count=1).collect()}
    assert out_abs[900]["n_rare"] == 0


def test_rare_token_rate_needs_a_threshold():
    """With neither threshold set the call fails with a clear error
    before any plan is built (docs is never touched)."""
    from adtk_spark.operators.corpus import rare_token_rate

    with pytest.raises(ValueError, match="set min_count or rel_threshold"):
        rare_token_rate(None, min_count=None, rel_threshold=None)


def test_charset_stats_classes(spark):
    """Exact class ratios on a crafted doc; mojibake (non-ASCII) drops
    ascii_ratio while token-level stats stay blind; empty doc -> NULL
    ratios; zero-shuffle plan."""
    import re

    from adtk_spark.operators.corpus import charset_stats

    rows = [(1, "AB12 cd"),               # 7 chars: 2 upper 2 digit 1 ws
            (2, "café naïve"),  # 2 non-ascii of 10
            (3, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = charset_stats(docs)
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["n_chars"] == 7
    assert got[1]["upper_ratio"] == round(2 / 7, 6)
    assert got[1]["digit_ratio"] == round(2 / 7, 6)
    assert got[1]["ws_ratio"] == round(1 / 7, 6)
    assert got[1]["ascii_ratio"] == 1.0
    assert got[2]["ascii_ratio"] == 0.8
    assert got[3]["ascii_ratio"] is None and got[3]["n_chars"] == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0


def test_ivf_split_oversized_deterministic_across_layouts(spark):
    """The per-cell k-means sample is ordered by its md5 rank before the
    fit, so the sub-cell ids do not depend on the input partitioning."""
    import numpy as np

    from adtk_spark.operators.ann import ivf_split_oversized

    rng = np.random.RandomState(5)
    rows = [(i, [float(x) for x in rng.randn(4)], i % 2) for i in range(400)]
    idx = spark.createDataFrame(rows, "id long, v array<double>, list_id int")

    def ids(parts):
        out = ivf_split_oversized(idx.repartition(parts), max_cell=60, sample=128)
        return sorted((r["id"], r["list_id"]) for r in out.collect())

    one = ids(1)
    assert len({cell for _, cell in one}) > 2  # the two cells were split
    assert ids(7) == one
