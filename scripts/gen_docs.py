#!/usr/bin/env python
"""Generate QUERIES.md (registry reference) and PLANS.md (physical-plan
evidence for the headline queries).  Run from the repo root:

    python scripts/gen_docs.py
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"


def gen_queries_md() -> str:
    from discogs_etl_spark.registry import all_specs

    lines = [
        "# QUERIES — registry reference (auto-generated by scripts/gen_docs.py)",
        "",
        "One row per registered query (each has an exact DuckDB oracle twin):",
        "bench-set membership, tags, and the first docstring line.  See",
        "COVERAGE.md for the SURVEY §2 mapping.",
        "",
        "| query | bench | tags | summary |",
        "|---|---|---|---|",
    ]
    for name, spec in sorted(all_specs().items()):
        doc = (spec.doc or "").strip().splitlines()
        summary = doc[0].rstrip(".") if doc else ""
        lines.append(
            f"| `{name}` | {'yes' if spec.bench else ''} | {', '.join(spec.tags)} | {summary} |"
        )
    lines.append("")
    return "\n".join(lines)


def gen_plans_md(spark) -> str:
    from discogs_etl_spark.registry import bench_specs

    out = [
        "# PLANS — physical plans of the bench set (auto-generated)",
        "",
        f"`df.explain('formatted')` at {SF_DIR}, tuned session (AQE on).",
        "What to look for per plan: `PushedFilters`/`ReadSchema` (scan",
        "pruning), `BroadcastHashJoin` (dimension sides never shuffle),",
        "`TakeOrderedAndProject` (top-k without global sort), and exchange",
        "counts (the shuffles we pay for).",
        "",
    ]
    for name, spec in sorted(bench_specs().items()):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            spec.fn(spark, SF_DIR).explain("formatted")
        plan = buf.getvalue()
        # keep the tree + scan details; drop the verbose per-node sections
        # except scans/joins/limits
        tree_end = plan.find("\n\n(1)")
        tree = plan[: tree_end if tree_end > 0 else len(plan)]
        keep = []
        for para in plan.split("\n\n"):
            head = para.split("\n", 1)[0]
            if re.search(r"Scan parquet|BroadcastHashJoin|SortMergeJoin|TakeOrdered", head):
                keep.append(para)
        out.append(f"## {name}\n\n```\n{tree.strip()}\n```\n")
        for para in keep:
            out.append(f"```\n{para.strip()}\n```\n")
    return "\n".join(out)


def main() -> None:
    with open("QUERIES.md", "w") as f:
        f.write(gen_queries_md())
    from discogs_etl_spark.session import get_spark

    spark = get_spark(app_name="gen-docs")
    spark.sparkContext.setLogLevel("ERROR")
    with open("PLANS.md", "w") as f:
        f.write(gen_plans_md(spark))
    spark.stop()
    print("wrote QUERIES.md, PLANS.md")


if __name__ == "__main__":
    main()
