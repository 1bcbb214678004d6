"""Seeded input generator owned by the benchmark.

Everything here is numpy + pyarrow: the package under test only ever
sees the files this module writes, so a change to the package's own
synthetic sources cannot change a workload.

Two input shapes:

- ``docs``: pre-tokenized training documents in the north-rule schema
  ``(doc_id string, tokens array<int>, n_tok int, source string,
  ts timestamp)``. Sources are Zipf-skewed (``floor(n * u**3)`` puts
  about 16% of docs on ``src0``), every 37th minute is left empty (its
  docs move to the next minute) and ``src0`` carries one 6-hour
  level-shift burst of +500 tokens.
- ``minute_series``: a minute-spaced long series ``(source, ts, value)``
  with Zipf-skewed series lengths, dropped minutes, level shifts,
  volatility bursts and isolated spikes.

The same ``seed`` always gives byte-identical tables; ``python3
perfbench/gen.py`` checks that, and that another seed does not.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_735_689_600_000_000  # 2025-01-01T00:00:00Z in microseconds
MINUTE_US = 60_000_000
VOCAB = 50_257

DOC_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
SERIES_SCHEMA = pa.schema([
    ("source", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("value", pa.float64()),
])


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _names(idx: np.ndarray) -> pa.Array:
    return pa.array(np.char.add("src", idx.astype(str)))


def docs(
    seed: int,
    n_docs: int,
    *,
    stream: int,
    first_id: int,
    t0_s: int,
    span_s: int,
    n_sources: int = 256,
    burst: tuple[int, int] | None = None,
) -> pa.Table:
    """``n_docs`` documents with event times in ``[t0_s, t0_s + span_s)``
    seconds after the epoch (plus the gap-minute push). ``stream`` keeps
    the base snapshot and every append independent under one seed;
    ``burst`` is the ``[lo, hi)`` second range of ``src0``'s shift."""
    rng = _rng(seed, stream)
    src = np.floor(n_sources * rng.random(n_docs) ** 3).astype(np.int64)
    secs = rng.integers(t0_s, t0_s + span_s, n_docs)
    secs = np.where((secs // 60) % 37 == 5, secs + 60, secs)
    ts = EPOCH_US + secs * 1_000_000 + rng.integers(0, 1_000_000, n_docs)
    n_tok = np.rint(np.exp(3.5 + 0.8 * rng.standard_normal(n_docs)))
    n_tok = np.clip(n_tok, 4, 2048).astype(np.int32)
    if burst is not None:
        hot = (src == 0) & (secs >= burst[0]) & (secs < burst[1])
        n_tok = np.where(hot, n_tok + 500, n_tok).astype(np.int32)
    offsets = np.zeros(n_docs + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    values = rng.integers(0, VOCAB, int(offsets[-1]), dtype=np.int32)
    ids = np.arange(first_id, first_id + n_docs)
    return pa.table(
        [
            pa.array(np.char.add("doc", ids.astype(str))),
            pa.ListArray.from_arrays(pa.array(offsets), pa.array(values)),
            pa.array(n_tok),
            _names(src),
            pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        ],
        schema=DOC_SCHEMA,
    )


def minute_series(
    seed: int,
    n_points: int,
    *,
    n_sources: int = 256,
    gap_rate: float = 0.03,
) -> pa.Table:
    """About ``n_points`` minute-spaced points over ``n_sources`` series
    whose lengths fall off as ``(k + 1) ** -0.6`` (at least 60 each).
    Values are continuous, so detector bounds never tie with a point."""
    rng = _rng(seed, 1000)
    weights = 1.0 / np.arange(1, n_sources + 1) ** 0.6
    lengths = np.maximum(60, np.rint(n_points * weights / weights.sum()))
    srcs, mins, vals = [], [], []
    for k, n in enumerate(lengths.astype(int)):
        level = rng.uniform(50.0, 150.0)
        sd = rng.uniform(1.0, 5.0)
        noise = sd * rng.standard_normal(n)
        if rng.random() < 0.4:  # volatility burst
            lo = rng.integers(0, n - n // 8)
            noise[lo:lo + n // 8] *= 4.0
        v = level + noise
        if rng.random() < 0.5:  # level shift
            at = rng.integers(n // 4, 3 * n // 4)
            v[at:] += rng.choice([-1.0, 1.0]) * rng.uniform(8.0, 15.0) * sd
        spikes = rng.integers(0, n, max(1, n // 200))
        v[spikes] += rng.choice([-1.0, 1.0], spikes.size) * 12.0 * sd
        keep = rng.random(n) >= gap_rate
        srcs.append(np.full(int(keep.sum()), k))
        mins.append(np.arange(n)[keep])
        vals.append(v[keep])
    return pa.table(
        [
            _names(np.concatenate(srcs)),
            pa.array(EPOCH_US + np.concatenate(mins) * MINUTE_US,
                     type=pa.timestamp("us", tz="UTC")),
            pa.array(np.concatenate(vals)),
        ],
        schema=SERIES_SCHEMA,
    )


def write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=1 << 20)


def content_hash(table: pa.Table) -> str:
    """sha256 over every column's buffers, in schema order."""
    h = hashlib.sha256()
    for col in table.combine_chunks().columns:
        for buf in col.chunks[0].buffers():
            if buf is not None:
                h.update(buf)
    return h.hexdigest()


def _self_check() -> None:
    def sample(seed):
        d = docs(seed, 5000, stream=0, first_id=0, t0_s=0, span_s=86400,
                 burst=(40000, 60000))
        s = minute_series(seed, 20000)
        return (d.num_rows, content_hash(d)), (s.num_rows, content_hash(s))

    a, b, c = sample(7), sample(7), sample(8)
    if a != b:
        raise SystemExit(f"same seed differs: {a} vs {b}")
    if a[0][1] == c[0][1] or a[1][1] == c[1][1]:
        raise SystemExit("different seeds gave identical content")
    print(f"ok: seed 7 docs rows={a[0][0]} series rows={a[1][0]}; "
          "seed 8 differs")


if __name__ == "__main__":
    _self_check()
