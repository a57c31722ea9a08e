"""Physical-plan inspection helpers.

The engine's performance contract is expressed as plan properties, not
vibes: scans must show pushed filters / pruned columns, aggregates must
be hash-based (never ObjectHashAggregate fallback — see
operators.rollup.exact_percentiles for why), joins over small dims
must broadcast. These helpers make those properties assertable in tests
and reportable in benchmarks.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


_SORT_DIR_RE = re.compile(r"\s(ASC|DESC)(\s+NULLS\s+(FIRST|LAST))?$")


def _first_top_level_element(s: str) -> str:
    """Up to the first ',' at paren depth 0 (spec elements may contain
    parenthesized expressions — ``cast(v#1 as int)``, ``xxhash64(...)``
    — so a flat split is wrong)."""
    depth = 0
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            return s[:i].strip()
    return s.strip()


def unpartitioned_windows(plan: str) -> list[str]:
    """Window specs with NO partition columns — a single-task global
    sort at scale, banned engine-wide. In the plan string a spec prints
    as ``windowspecdefinition(part..., order ASC/DESC ..., frame)``; if
    the FIRST top-level element already carries a sort direction (or is
    the frame itself: neither partition nor order columns), the
    partition list is empty. Paren-depth scanning, not a flat regex —
    an order EXPRESSION (cast, function call) contains parens and must
    not hide the spec from the ban."""
    hits = []
    token = "windowspecdefinition("
    start = plan.find(token)
    while start >= 0:
        body, depth = start + len(token), 1
        end = body
        while end < len(plan) and depth:
            if plan[end] == "(":
                depth += 1
            elif plan[end] == ")":
                depth -= 1
            end += 1
        first = _first_top_level_element(plan[body : end - 1])
        if _SORT_DIR_RE.search(first) or first.startswith("specifiedwindowframe("):
            hits.append(plan[start:end][:160])
        start = plan.find(token, end)
    return hits


def plan_report(df: DataFrame) -> dict:
    """Summarize scale-relevant plan features."""
    plan = physical_plan(df)
    return {
        "exchanges": plan.count("Exchange"),
        "broadcasts": plan.count("BroadcastExchange"),
        "joins": len(re.findall(r"\b[A-Z]\w*Join\b", plan)),
        "sorts": plan.count("Sort "),
        "object_agg": plan.count("ObjectHashAggregate"),
        "hash_agg": plan.count("HashAggregate"),
        "codegen_spans": plan.count("WholeStageCodegen"),
        "pushed_filters": "PushedFilters: [" in plan and "PushedFilters: []" not in plan,
    }


def assert_no_object_agg(df: DataFrame) -> None:
    plan = physical_plan(df)
    assert "ObjectHashAggregate" not in plan, (
        "plan contains ObjectHashAggregate (slow sort-based fallback risk):\n" + plan[:2000]
    )
