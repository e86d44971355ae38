"""Dump formatted physical plans for the headline queries into PLANS.md.

Usage: python tools/dump_plans.py [sf_dir] [out]

``out`` defaults to this tree's ``PLANS.md``; pass another path to
compare two trees' plans without overwriting the committed file.

The point is reviewability: PushedFilters / ReadSchema on every scan
(pushdown + pruning reached the parquet reader), BroadcastHashJoin on
dim-table joins, WholeStageCodegen spans over the hot expressions.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, "PLANS.md")

    from xorq_spark.session import connect
    from xorq_spark.queries import QUERIES
    from bench import HEADLINE

    spark = connect(master="local[8]", app_name="xorq_spark_plans")
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — formatted physical plans for the headline queries",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}` (AQE is on, so",
        "runtime re-planning may further coalesce/convert at execution).",
        "Things to look for: `PushedFilters`/`ReadSchema` on scans,",
        "`BroadcastHashJoin` for dim tables, `WholeStageCodegen` spans.",
        "",
    ]
    for name in HEADLINE:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # Strip the volatile parts (full paths, object ids) for a stable diff.
        plan = re.sub(r"file:[^\],\s]*", "file:...", plan)
        # ... and the session-wide Exchange counter, so two dumps of one
        # commit are byte-identical
        plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
        # Unrolled iterative queries (MMR, pagerank-style loops) produce
        # plans in the tens of thousands of lines; cap each at 400 lines
        # — the operator tree summary at the top is what reviewers read.
        lines = plan.rstrip().split("\n")
        if len(lines) > 400:
            lines = lines[:400] + [
                f"... [{len(lines) - 400} more lines elided - unrolled "
                "iterative plan; every stage repeats the shapes above]"
            ]
        plan = "\n".join(lines)
        out.append(f"## {name}\n\n```\n{plan}\n```\n")

    with open(out_path, "w") as f:
        f.write("\n".join(out))
    print(f"{out_path} written ({len(HEADLINE)} queries)")


if __name__ == "__main__":
    main()
