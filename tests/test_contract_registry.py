"""Spark-free checks of the driver contract registry (__spark_entry__)
and the query names bench.py times."""

from __future__ import annotations

import json
import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entry  # noqa: E402


def _defined() -> list[str]:
    """Contract keys in definition order: every module q_* function."""
    return [n[2:] for n, v in vars(entry).items()
            if n.startswith("q_") and callable(v)]


def test_queries_and_oracles_share_the_150_keys():
    qs, oracles = entry.queries(), entry.oracle_sql()
    assert len(qs) == 150
    assert set(qs) == set(oracles)
    assert sorted(qs) == sorted(_defined())


def test_bench_times_registered_queries():
    import bench

    registered = set(entry.queries())
    assert len(bench.HEADLINE) == 11 and len(bench.EXTRAS) == 67
    assert set(bench.HEADLINE) <= registered
    assert set(bench.EXTRAS) <= registered
    assert len(bench.PROD_EXTRAS) == 7
    assert not set(bench.PROD_EXTRAS) & registered


def test_rotation_drains_the_committed_backlog():
    """Under the five committed driver records the first window is the
    never-checked embedding_quality, then the 49 keys last recorded in
    round 3, in definition order."""
    records = [str(ROOT / f"CORRECTNESS_r0{i}.json") for i in range(1, 6)]
    recent = set()
    for path in records[3:]:
        recent |= set(json.loads(pathlib.Path(path).read_text()))
    r03 = set(json.loads(pathlib.Path(records[2]).read_text()))
    backlog = [n for n in _defined() if n in r03 - recent]
    assert len(backlog) == 49
    order = entry._rotation_order(_defined(), records)
    assert order[:50] == ["embedding_quality"] + backlog


def test_queries_follow_the_rotation_over_records_on_disk():
    records = sorted(str(p) for p in ROOT.glob("CORRECTNESS_r*.json"))
    assert list(entry.queries()) == entry._rotation_order(_defined(), records)
    assert entry._rotation_order(_defined(), []) == _defined()
