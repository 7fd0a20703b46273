"""Generate PLANS.md: physical-plan facts for every headline query.

The scale argument made inspectable: per query, the shuffle-exchange and
broadcast counts, Python-eval nodes, scan pushdown/pruning, and
aggregate strategy, extracted from `.explain("formatted")` at the given
scale factor.

Usage: python tools/plan_report.py [sf_dir] [out_md]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from bench import HEADLINE  # noqa: E402
from kinesyslog_spark.plans.checks import executed_facts, facts  # noqa: E402
from kinesyslog_spark.queries import QUERIES  # noqa: E402
from kinesyslog_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "PLANS.md"
    spark = get_spark("plan-report")

    lines = [
        "# PLANS — physical-plan facts for the query inventory",
        "",
        f"Auto-generated by `tools/plan_report.py` over `{sf_dir}`",
        "(PLANS_ALL=1 for the full inventory). For each",
        "query: shuffle exchanges, broadcast joins, Python-eval nodes (the",
        "slow path — intentional Arrow ops show as *InPandas, not counted",
        "here), SortAggregate fallbacks, and whether parquet scans carry",
        "pushed filters. The per-query intent is pinned as assertions in",
        "`tests/test_plans.py`; this file is the human-readable dump.",
        "",
        "| query | shuffle exch. | broadcast joins | python eval | sort agg | pushed filters |",
        "|---|---|---|---|---|---|",
    ]
    import os as _os

    names = sorted(QUERIES) if _os.environ.get("PLANS_ALL") else list(HEADLINE)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        # Counts come from the EXECUTED plan tree, truncated at cache
        # boundaries — explain text nests every InMemoryRelation's full
        # cached subtree, which made iterative queries (q40/q72) report
        # the whole unrolled lineage instead of what actually runs.
        ef = executed_facts(df)
        f = facts(df)
        pushed = "yes" if re.search(r"PushedFilters: \[[^\]]+\]", f.text) else "—"
        lines.append(
            f"| {name} | {ef.exchange_count} | {ef.broadcast_any_count} | "
            f"{ef.python_eval_count} | {ef.sort_aggregate_count} | {pushed} |"
        )
    lines += [
        "",
        "Notes:",
        "- Counts reflect the EXECUTED plan tree: AQE/query-stage shells",
        "  unwrapped, each cached (session artifact) build counted once. The",
        "  iterative queries (q40 pointer-jumping CC, q72 PageRank) report",
        "  what actually runs — q40's checkpointed rounds live behind RDD",
        "  scan boundaries, q72 shows its real per-iteration exchanges.",
        "- Exchange counts include the final presentation `ORDER BY` each",
        "  oracle-checked query carries for determinism.",
        "- Zero `python eval` on the parse/relational family = the whole",
        "  pipeline stays in whole-stage codegen.",
        "- Dedup/ANN families show explicit wide repartitions (counted as",
        "  exchanges) in front of compute-heavy self-joins — deliberate:",
        "  AQE would coalesce those bytes-small stages to one task.",
        "- SortAggregate is a red flag only on *corpus-sized* aggregations",
        "  (tests pin q02/q26 to hash). q30's entries are the struct-min",
        "  argmax over the small per-(doc, lang) score table — struct",
        "  buffers always sort-aggregate, and it measures faster than the",
        "  ranking-window alternative it replaced.",
    ]
    with open(out_path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out_path} ({len(names)} queries)")


if __name__ == "__main__":
    main()
