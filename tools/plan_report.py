"""Physical-plan audit: writes PLANS.md summarizing, per headline
query, the Catalyst properties that matter at 100 TB — pushed
filters, read schemas (column pruning), join strategies, shuffle
exchange count, partition pruning.

Usage: python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import HEADLINE
from cocoindex_data_ingestion_spark.session import get_spark


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()





def summarize(plan: str) -> dict:
    return {
        "joins": re.findall(r"\(\d+\) (\w*Join\w*)", plan),
        "exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
        "pushed": [
            s.strip()[: 110]
            for s in plan.splitlines()
            if "PushedFilters: [" in s and "PushedFilters: []" not in s
        ],
        "partition_filters": [
            s.strip()[: 110]
            for s in plan.splitlines()
            if "PartitionFilters: [" in s and "PartitionFilters: []" not in s
        ],
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("plan_report")
    qs = entrymod.queries()
    # warm index for indexed variants
    qs["indexed_bm25_search"](spark, sf_dir).collect()

    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by tools/plan_report.py at {sf_dir} "
        "(joins as chosen by Catalyst+AQE; shuffle exchange count; "
        "predicate/partition pushdown as shown by .explain('formatted')).",
        "",
        "| query | joins | shuffles | pushdown evidence |",
        "|---|---|---|---|",
    ]
    extras = ["curate_resolve_duplicates"]
    names = list(HEADLINE) + [n for n in extras if n not in HEADLINE]
    for name in names:
        df = qs[name](spark, sf_dir)
        df.count()  # materialize so AQE finalizes (isFinalPlan=true)
        s = summarize(plan_of(df))
        evidence = "; ".join(s["pushed"][:2] + s["partition_filters"][:1]) or "—"
        joins = ", ".join(s["joins"]) or "—"
        lines.append(f"| {name} | {joins} | {s['exchanges']} | {evidence} |")
    lines += [
        "",
        "Notes:",
        "",
        "- `rag_context_assembly_filtered` filters on DERIVED access",
        "  metadata columns in the registered (oracle-comparable)",
        "  query, so its row shows a post-scan predicate by",
        "  construction. On the production layout — metadata stored",
        "  as partition columns — the same IN-list lands in",
        "  `PartitionFilters` (directory pruning): verified by",
        "  `tools/scaling_probe.py --r6` (deleted; in git history), which materializes docs",
        "  partitioned by (department, security_level), applies",
        "  `docmeta.access_filter`, and asserts the executed plan",
        "  prunes (result recorded in SCALING.md §Round-6).",
        "- All `BroadcastNestedLoopJoin` rows are broadcasts of",
        "  one-row/scalar frames (query vector, corpus stats), not",
        "  cartesian products.",
    ]
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
