#!/usr/bin/env python3
"""Physical-plan audit over every declared query: counts the operators
that matter at 100 TB (exchanges, join strategies, codegen coverage,
scan pushdown) and writes PLANS.md — a reviewable inventory, regenerated
whenever the registry changes (`python scripts/plan_audit.py [sf_dir]`).

Counts come from the AQE-initial physical plan (what static planning
commits to; AQE can only improve it at runtime)."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crossbar_data_process_spark import get_spark
from crossbar_data_process_spark.plans.queries import ORACLES, QUERIES

PATTERNS = {
    "exchanges": r"Exchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)",
    "broadcast_joins": r"BroadcastHashJoin",
    "sortmerge_joins": r"SortMergeJoin",
    "shuffle_hash_joins": r"ShuffledHashJoin",
    "nested_loops": r"BroadcastNestedLoopJoin",
    "cartesian": r"CartesianProduct",
    "python_eval": r"(?:BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas)",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan_audit")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        counts = {k: len(re.findall(p, plan)) for k, p in PATTERNS.items()}
        pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "-"
        rows.append((name, counts, pushed, name in ORACLES))

    lines = [
        "# PLANS — physical-plan audit of the declared query set",
        "",
        f"Generated by `scripts/plan_audit.py` at `{sf_dir}` "
        "(AQE-initial plans: what static planning commits to; AQE only "
        "improves from here). Columns count physical operators; "
        "`push` = a parquet scan carries pushed filters; `py` = "
        "Arrow/Python stages (none allowed in a declared query).",
        "",
        "NOTE on multi-consumer pipelines (q26b/q63/...): the engine "
        "materializes shared intermediates via lazy localCheckpoint "
        "(operators/materialize.py), so the STATIC plan string repeats the "
        "shared subtree once per consumer — the printed exchange count is an "
        "upper bound; at runtime the checkpoint materializes the subtree "
        "once and consumers reuse its blocks.",
        "",
        "| query | exch | bcast | smj | shj | nlj | cart | py | push | oracle |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, c, pushed, has_oracle in rows:
        lines.append(
            f"| {name} | {c['exchanges']} | {c['broadcast_joins']} | "
            f"{c['sortmerge_joins']} | {c['shuffle_hash_joins']} | "
            f"{c['nested_loops']} | {c['cartesian']} | "
            f"{c['python_eval']} | {pushed} | {'sql' if has_oracle else 'rows'} |"
        )
    tot = {k: sum(r[1][k] for r in rows) for k in PATTERNS}
    lines += [
        "",
        f"**Totals over {len(rows)} queries:** "
        f"{tot['exchanges']} exchanges, {tot['broadcast_joins']} broadcast joins, "
        f"{tot['sortmerge_joins']} sort-merge joins, {tot['shuffle_hash_joins']} "
        f"shuffle-hash joins, {tot['nested_loops']} sanctioned 1-row/bounded "
        f"nested loops, {tot['cartesian']} cartesian products, "
        f"{tot['python_eval']} Python stages.",
        "",
        "Invariants enforced by tests/test_plan_shapes.py: zero cartesian "
        "products anywhere; nested loops only in the whitelisted queries "
        "(1-row broadcasts / the brute-force oracle contract); zero Python "
        "stages in ANY declared query.",
        "",
    ]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(lines))
    print(f"PLANS.md written: {len(rows)} queries, totals {tot}")
    spark.stop()


if __name__ == "__main__":
    main()
