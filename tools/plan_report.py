"""Generate PLANS.md: physical-plan evidence for EVERY registered query.

For each query: scan pushdown (PushedFilters), column pruning
(ReadSchema), join strategies, and exchange (shuffle) count — the
properties §4 of SURVEY.md claims and tests/test_plan_shapes.py gates.
Rows follow all_queries(), so the driver's window comes first.
Run: python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_project_spark.execution import clear_query_state


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from hadoop_project_spark.session import get_spark
    from hadoop_project_spark.plans import all_queries

    spark = get_spark(app_name="plan-report", cpus="8")
    specs = all_queries()
    out = [
        "# PLANS — physical-plan evidence (auto-generated)",
        "",
        f"`python tools/plan_report.py {sf_dir}` — do not edit by hand.",
        "Shuffle count is pre-AQE (AQE may coalesce/convert at runtime).",
        "",
        "| query | scans | pushed filters | joins | shuffles |",
        "|---|---|---|---|---|",
    ]
    details: list[str] = []
    for name in specs:
        df = specs[name].build(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        n_scans = plan.count("FileScan")
        n_shuffles = plan.count("Exchange hashpartitioning") + plan.count(
            "Exchange rangepartitioning"
        ) + plan.count("Exchange SinglePartition")
        joins = sorted(
            set(re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                           r"BroadcastNestedLoopJoin|CartesianProduct)", plan))
        )
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", formatted)
        pushed_summary = (
            "; ".join(p[:60] for p in pushed if p.strip()) or "—"
        )
        out.append(
            f"| `{name}` | {n_scans} | {pushed_summary[:80]} | "
            f"{', '.join(joins) or '—'} | {n_shuffles} |"
        )
        read_schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", formatted)
        details.append(
            f"### {name}\n\n" + "".join(
                f"- scan {i}: `{rs[:140]}`\n" for i, rs in enumerate(read_schemas)
            )
        )
        clear_query_state(spark)  # release pins + cached blocks
    out += ["", "## Read schemas (column pruning)", ""] + details
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(specs)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
