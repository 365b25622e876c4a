"""Catalog-wide physical-plan guard: NO query may plan a CartesianProduct.

PLAN_AUDIT.md documents plan shapes per round; this test makes the
invariant self-enforcing — a new or edited query that accidentally loses
its join keys (the classic silent 100TB killer) fails CI instead of
shipping. Plans are built, not executed, so the sweep stays cheap.
"""

from __future__ import annotations

import pytest

from platform_etl_backend_spark.catalog import QUERIES


@pytest.fixture(scope="module")
def all_plans(catalog_sweep):
    """Simple-plan string per query from the session's one catalog sweep,
    or the Exception when building or planning the query failed."""
    return {
        name: built if isinstance(built, Exception) else built[0]
        for name, built in catalog_sweep.items()
    }


def test_no_catalog_query_plans_a_cartesian_product(all_plans):
    offenders = {}
    for name, plan in all_plans.items():
        if isinstance(plan, Exception):
            offenders[name] = f"plan error: {type(plan).__name__}: {plan}"
        elif "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
    assert not offenders, offenders


def test_plan_audit_covers_every_registered_query():
    """PLAN_AUDIT.md lagged the registry in round 4 (220/230 rows — the
    last TPC-H commit forgot the regeneration). Pin it: every registered
    query must have an audit row, so the file cannot silently go stale.
    Regenerate with scripts/plan_audit.py when this fails."""
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    audit = open(os.path.join(root, "PLAN_AUDIT.md")).read()
    audited = set(re.findall(r"^\| (q_\w+) \|", audit, flags=re.M))
    missing = sorted(set(QUERIES) - audited)
    stale = sorted(audited - set(QUERIES))
    assert not missing, f"queries without a PLAN_AUDIT row: {missing}"
    assert not stale, f"PLAN_AUDIT rows for unregistered queries: {stale}"


def test_classifier_flags_unrecognized_consumer_as_unknown():
    """Round-7 ADVICE: an Exchange SinglePartition feeding a shape the
    classifier does not recognize (here: a join over an unaggregated
    frame) must classify as 'unknown', not default to benign 'scalar'."""
    from platform_etl_backend_spark.plans.inspect import classify_single_partitions

    plan = "\n".join([
        "== Physical Plan ==",
        "SortMergeJoin [a#1L], [b#2L], Inner",
        ":- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]",
        ":  +- Project [a#1L]",
        ":     +- FileScan parquet [a#1L]",
        "+- FileScan parquet [b#2L]",
    ])
    out = classify_single_partitions(plan)
    assert out == [{"class": "unknown", "detail": "unrecognized consumer"}]


def test_no_catalog_query_has_raw_single_partition_window(all_plans):
    """The W2 guard made machine-checkable (round-6 VERDICT ask): no
    catalog query may sort an UNAGGREGATED frame in a single partition
    (`Exchange SinglePartition` feeding a Window/Sort with no reducing
    grouping aggregate below). Benign classes — scalar frames and
    aggregate-bounded frames (per-partition offsets, calendar/alphabet
    rollups) — stay allowed; new O(n) global sorts fail here instead of
    shipping as docstring caveats."""
    from platform_etl_backend_spark.plans.inspect import (
        PLAN_GUARD_ALLOWLIST,
        plan_guard_verdict,
    )

    offenders = {}
    for name, plan in all_plans.items():
        if isinstance(plan, Exception):
            continue  # plan failures are the cartesian test's concern
        # 'unknown' fails too (round-7 ADVICE): the classifier's old
        # fall-through treated unrecognized consumers as benign, so a
        # novel O(n) single-partition plan could ship silently. An
        # unknown shape needs either a classifier upgrade or an explicit
        # allowlist entry here.
        bad = plan_guard_verdict(plan)
        if bad:
            offenders[name] = bad
    # Documented exceptions live in ONE place — plans/inspect.py's
    # PLAN_GUARD_ALLOWLIST — shared with the per-commit
    # `scripts/plan_audit.py --check` loop (round-8 VERDICT #4) so the
    # commit-time check and this round-close guard can never disagree.
    for name in PLAN_GUARD_ALLOWLIST:
        offenders.pop(name, None)
    assert not offenders, offenders
