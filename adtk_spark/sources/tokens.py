"""Deterministic synthetic corpus of pre-tokenized training sequences.

Schema per the north rule input_hint (BASELINE.json):
``(doc_id string, tokens array<int>, n_tok int, source string,
ts timestamp)`` — ``n_tok == size(tokens)`` by construction and the
whole table is a pure function of (seed, n_docs): regenerating yields
bit-identical rows (the per-row token-array-equality invariant is
checked by tests/test_tiers_tokens.py with ``token_equality_check``).

Everything is JVM-side expression work over ``spark.range`` — no Python
RNG, no UDFs — so generation distributes and scales with cores.

Distribution design (FIXTURES.md F2):
- sources are Zipf-skewed: ``floor(n_sources * u^3)`` concentrates ~25%
  of rows on source 0 (exercises AQE/salting paths)
- event-times span ``span_secs`` uniformly, with carved-out minutes
  (gap injection for gap-fill) and a level-shift burst window where
  source 0's n_tok jumps (signal for PersistAD/LevelShiftAD)
- n_tok is lognormal-ish via Box-Muller on two uniform hashes
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def token_corpus(
    spark: SparkSession,
    n_docs: int,
    n_sources: int = 64,
    seed: int = 42,
    start: str = "2025-01-01 00:00:00",
    span_secs: int = 30 * 86400,
    vocab: int = 50257,
    mean_log_tokens: float = 3.5,
    sigma_log_tokens: float = 0.8,
    partitions: int | None = None,
) -> DataFrame:
    ids = spark.range(0, n_docs, 1, partitions) if partitions else spark.range(n_docs)

    def u(k: int):
        h = F.xxhash64(F.lit(seed * 1000 + k), F.col("id"))
        return (F.pmod(h, F.lit(1_000_000_007)).cast("double") + 0.5) / 1_000_000_007.0

    src_idx = F.floor(F.lit(n_sources) * F.pow(u(1), F.lit(3.0))).cast("int")
    secs = F.floor(u(2) * F.lit(span_secs)).cast("long")
    # gap injection: every 37th minute bucket is pushed one minute later,
    # leaving deterministic holes in the per-source minute series
    minute = F.floor(secs / 60)
    secs = F.when(F.pmod(minute, F.lit(37)) == 5, secs + 60).otherwise(secs)
    ts = F.timestamp_micros(
        F.unix_micros(F.to_timestamp(F.lit(start))) + secs * 1_000_000
        + F.pmod(F.xxhash64(F.lit(seed), F.col("id"), F.lit(7)), F.lit(1_000_000))
    )
    # Box-Muller lognormal token count, clamped to [4, 2048]
    z = F.sqrt(-2.0 * F.log(u(3))) * F.cos(2.0 * 3.141592653589793 * u(4))
    n_tok = F.round(F.exp(F.lit(mean_log_tokens) + F.lit(sigma_log_tokens) * z)).cast("int")
    n_tok = F.greatest(F.lit(4), F.least(F.lit(2048), n_tok))
    # burst: source 0 level-shifts upward for a 6-hour window mid-span
    burst_lo, burst_hi = span_secs // 2, span_secs // 2 + 6 * 3600
    n_tok = F.when(
        (src_idx == 0) & (secs >= burst_lo) & (secs < burst_hi), n_tok + 500
    ).otherwise(n_tok)
    tokens = F.transform(
        F.sequence(F.lit(1), n_tok),
        lambda i: F.pmod(
            F.xxhash64(F.lit(seed), F.col("id") * 1000003 + i.cast("long")), F.lit(vocab)
        ).cast("int"),
    )
    return ids.select(
        F.concat(F.lit("doc"), F.col("id")).alias("doc_id"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        F.concat(F.lit("src"), src_idx).alias("source"),
        ts.alias("ts"),
    )


def token_series(corpus: DataFrame) -> DataFrame:
    """The analyzed series per the north rule: per-source token-count
    stream over event time -> long schema (source, ts, value)."""
    return corpus.select("source", "ts", F.col("n_tok").cast("double").alias("value"))


def token_equality_check(a: DataFrame, b: DataFrame) -> int:
    """Per-row token-array equality between two corpus builds (the
    north-rule invariant). Returns the number of mismatching doc_ids
    (0 == pass). Anti-join on the full row content — distributed."""
    lhs = a.select("doc_id", F.col("tokens").alias("t"), "n_tok")
    rhs = b.select("doc_id", F.col("tokens").alias("t"), "n_tok")
    return lhs.exceptAll(rhs).count()
