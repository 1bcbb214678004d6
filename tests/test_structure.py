"""Spark-free guards on how the package is put together."""

from __future__ import annotations

import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "adtk_spark"


def test_exact_sum_type_spelled_only_in_exact_module():
    """The exact-sum type ``decimal(38,9)`` is spelled only in
    ``functions/exact.py``: every operator sums through its helpers
    instead of re-rolling a local copy of the rule."""
    hits = [
        f"{path.relative_to(PKG)}:{lineno}"
        for path in sorted(PKG.rglob("*.py"))
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if "decimal(38,9)" in line.replace(" ", "")
    ]
    assert hits, "functions/exact.py no longer defines the exact sum"
    assert all(h.startswith("functions/exact.py:") for h in hits), hits


def test_tier_family_merges_written_once():
    """Each routed tier family's merge is written once
    (``plans/tiers.merge_tier``): the digest list and the TWA weight sum
    are each aggregated in one place, which ``rollup_up``, ``route_rollup``
    and the streaming TWA merge all call."""
    text = "\n".join(path.read_text() for path in sorted(PKG.rglob("*.py")))
    for spelling in ('collect_list("vdigest")', 'F.sum("_w_us")'):
        assert text.count(spelling) == 1, spelling


def test_small_input_rule_written_once():
    """The one-partition rule for small inputs (``coalesce(1)`` when the
    estimated size is at most ``spark.sql.autoBroadcastJoinThreshold``)
    is written once, in ``session.one_partition_if_small``: every
    operator entry and tier read calls it, so the rule and its off
    switch cannot drift apart between callers."""
    def hits(*spellings):
        return [
            f"{path.relative_to(PKG)}:{lineno}"
            for path in sorted(PKG.rglob("*.py"))
            for lineno, line in enumerate(path.read_text().splitlines(), 1)
            if any(s in line.replace(" ", "") for s in spellings)
        ]

    coalesce = hits("coalesce(1)")
    # the threshold read, as a SQLConf call or as a conf lookup by key
    reads = hits(".autoBroadcastJoinThreshold()", 'get("spark.sql.autoBroadcastJoinThreshold"')
    for found in (coalesce, reads):
        assert len(found) == 1 and found[0].startswith("session.py:"), found
