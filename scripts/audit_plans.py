"""Generate PLAN_AUDIT.md: the physical-plan properties of every gate
query, as a table the scale review reads directly (join strategies,
exchange counts, pushed filters present, top-k shape, cartesians).

The same properties are ENFORCED for key queries by
tests/test_plan_quality.py; this artifact is the full-surface census.

Usage: python scripts/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

from block_explorer_spark import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def main() -> None:
    spark = get_spark("plan-audit")
    lines = [
        "# PLAN_AUDIT — physical-plan census of every gate query",
        "",
        f"Generated by scripts/audit_plans.py at {SF_DIR} (plan shapes are",
        "SF-independent for these queries; AQE may coalesce exchange counts",
        "at runtime). BHJ=BroadcastHashJoin SMJ=SortMergeJoin",
        "BNLJ=BroadcastNestedLoopJoin TOaP=TakeOrderedAndProject.",
        "",
        "| query | BHJ | SMJ | BNLJ | exchanges | TOaP | pushed filters | cartesian |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, fn in entrymod.queries().items():
        try:
            plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # pragma: no cover
            lines.append(f"| {name} | ERROR: {str(e)[:60]} | | | | | | |")
            continue
        lines.append(
            "| {} | {} | {} | {} | {} | {} | {} | {} |".format(
                name,
                plan.count("BroadcastHashJoin"),
                plan.count("SortMergeJoin"),
                plan.count("BroadcastNestedLoopJoin"),
                plan.count("Exchange"),
                "yes" if "TakeOrderedAndProject" in plan else "—",
                "yes" if "PushedFilters: [" in plan and "PushedFilters: []" not in plan else "—",
                "YES" if "CartesianProduct" in plan else "no",
            )
        )
    # Row-at-a-time UDF census: F.udf keeps Python in the per-ROW hot
    # path (no Arrow batching); the package target is zero — grouped
    # logic goes through pandas_udf / mapInPandas /
    # applyInPandasWithState instead, and the control pass's trie
    # check runs on the driver (streaming/pipeline.run_control_pass).
    import subprocess

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "block_explorer_spark",
    )
    hits = [
        ln
        for ln in subprocess.run(
            ["grep", "-rn", "F.udf(", pkg, "--include=*.py"],
            capture_output=True, text=True,
        ).stdout.splitlines()
        if "pandas_udf" not in ln
    ]
    lines += [
        "",
        f"Row-at-a-time UDF census (`F.udf(` in the package): "
        f"**{len(hits)}**"
        + ("" if not hits else " — " + "; ".join(h.split(":")[0:2][0] for h in hits)),
    ]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_AUDIT.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(entrymod.queries())} queries)")


if __name__ == "__main__":
    main()
