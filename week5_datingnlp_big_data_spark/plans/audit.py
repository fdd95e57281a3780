"""Plan auditing: turn ``df.explain()`` text into a structured verdict so
scale hazards are checkable in code, not by eyeballing plan dumps.

The engine's own test suite asserts plan shapes query by query
(tests/test_plans.py); this module packages the same checks as a runtime
utility — a user composing NEW pipelines on the engine's operators can
gate a deploy on ``audit_plan(df)["warnings"] == []`` the way the repo's
CI gates its registered queries. Every check is textual over the
formatted physical plan: stable across Spark 3.x/4.x, zero execution
cost (the plan is compiled, never run).

Checks encode the brief's 100 TB rules:
  - cartesian / broadcast-nested-loop joins   → quadratic blowup
  - exchange count                            → shuffle budget
  - pushed filters + read schema              → scan does the pruning
  - whole-stage codegen spans                 → JVM-side, not interpreted
  - TakeOrderedAndProject                     → top-k without global sort
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def _formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _initial_only_ids(plan: str) -> set[int]:
    """Operator ids that only AQE's ``== Initial Plan ==`` tree shows.

    Once the DataFrame has run, "formatted" prints the final plan and the
    initial plan; nodes the two share keep one id, the rest of the
    initial plan gets ids (and detail sections) of its own."""
    seen = {"Final": set(), "Initial": set()}
    mode, col = None, 0
    for line in plan.splitlines():
        marker = re.search(r"== (Final|Initial) Plan ==", line)
        if marker:
            mode, col = marker.group(1), marker.start()
            continue
        if mode is None or len(line) - len(line.lstrip()) < col:
            mode = None  # a blank or shallower line ends the tree
            continue
        node = re.search(r"\((\d+)\)", line)
        if node:
            seen[mode].add(int(node.group(1)))
    return seen["Initial"] - seen["Final"]


def audit_plan(df: DataFrame, max_exchanges: int | None = None) -> dict:
    """Structured audit of a DataFrame's compiled physical plan.

    Returns a dict with the raw measurements plus a ``warnings`` list of
    human-readable findings; an empty list means none of the hazard
    patterns appear. ``max_exchanges`` adds a budget check when the
    caller knows how many shuffles the pipeline SHOULD need.

    The node counts (``n_exchanges``, ``n_broadcast_joins``,
    ``n_sort_merge_joins``) cover ONE plan: AQE's final plan once the
    DataFrame has run, else the plan as compiled. Even so, a plan built
    over an already-materialized cache can legitimately differ (rebuilt
    after its cache filled, ``embedding_margin_pairs`` audits at 3
    Exchanges instead of 5), so compare plans built in a fresh session or
    after ``spark.catalog.clearCache()``.

    ``n_codegen_spans`` counts the distinct ``[codegen id : n]`` marks in
    the same detail headers. Under AQE a plan that has not run yet has no
    codegen stages (the adaptive plan compiles them stage by stage), so
    it reads 0 until the DataFrame has run."""
    plan = _formatted_plan(df)
    # "formatted" mode prints each operator TWICE — once in the tree
    # ("Exchange (4)") and once as a detail header ("(4) Exchange") — so
    # instance counts come from the detail headers only, minus those of
    # the initial plan when AQE printed a final one too.
    initial_only = _initial_only_ids(plan)
    headers = [
        (op, codegen)
        for i, op, codegen in re.findall(
            r"^\((\d+)\) (\w+)[^\n]*?(?:\[codegen id : (\d+)\])?$", plan, re.M
        )
        if int(i) not in initial_only
    ]
    ops = [op for op, _ in headers]
    n_exchanges = sum(1 for o in ops if o == "Exchange")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    read_schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
    result = {
        "cartesian": "CartesianProduct" in plan,
        "broadcast_nested_loop": "BroadcastNestedLoopJoin" in plan,
        "n_exchanges": n_exchanges,
        "n_broadcast_joins": sum(1 for o in ops if o == "BroadcastHashJoin"),
        "n_sort_merge_joins": sum(1 for o in ops if o == "SortMergeJoin"),
        "n_codegen_spans": len({c for _, c in headers if c}),
        "pushed_filters": [p for p in pushed if p.strip()],
        "read_schemas": read_schemas,
        "take_ordered": "TakeOrderedAndProject" in plan,
        "uses_cache": "InMemoryTableScan" in plan,
        "plan": plan,
    }
    warnings = []
    if result["cartesian"]:
        warnings.append("CartesianProduct: quadratic pair expansion")
    if result["broadcast_nested_loop"]:
        warnings.append(
            "BroadcastNestedLoopJoin: non-equi join — verify one side is a "
            "bounded scalar/tiny relation, not data-sized"
        )
    if max_exchanges is not None and n_exchanges > max_exchanges:
        warnings.append(
            f"{n_exchanges} exchanges exceeds the declared budget of "
            f"{max_exchanges}"
        )
    full_scans = [s for s in read_schemas if s.count(",") >= 8]
    if full_scans and not result["uses_cache"]:
        warnings.append(
            "wide scan: a ReadSchema carries 9+ columns — check column "
            "pruning reaches the source"
        )
    result["warnings"] = warnings
    return result
