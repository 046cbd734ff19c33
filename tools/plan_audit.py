"""Physical-plan audit: renders PLANS.md from the live Catalyst plans
of every registered spec.

For each query we record what matters at 100 TB — whether predicates
reached the parquet scan (PushedFilters), whether column pruning
reached it (ReadSchema width), how many shuffles the plan pays
(Exchange hashpartitioning), and which joins broadcast. Run after any
plan-affecting change:

    python tools/plan_audit.py          # uses $SPARK_GRAFT_SF_DIR
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _uniq(pattern: str, plan: str) -> int:
    """Count UNIQUE matching plan lines: a persisted subtree is
    re-printed verbatim under every InMemoryTableScan that consumes it
    but executes once, so duplicate reprints must not inflate the
    count. Distinct real nodes stay distinct because Catalyst expr ids
    (#123) make their printed lines differ."""
    return len(set(re.findall(pattern + r"[^\n]*", plan)))


def audit(plan: str) -> dict:
    return {
        "pushed": re.findall(r"PushedFilters: \[([^\]]*)\]", plan),
        "schemas": [
            s[: s.index(">") + 1] if ">" in s else s
            for s in re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
        ],
        "shuffles": _uniq(r"Exchange hashpartitioning", plan),
        "single": _uniq(r"Exchange SinglePartition", plan),
        "broadcasts": _uniq(r"BroadcastExchange", plan),
        "bhj": _uniq(r"BroadcastHashJoin", plan),
        "smj": _uniq(r"SortMergeJoin", plan),
        "cached": len(set(re.findall(r"InMemoryRelation[^\n]*", plan))),
        "takeordered": "TakeOrderedAndProject" in plan,
        "python": len(re.findall(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", plan)),
    }


def main() -> None:
    from mcas_question2_etl_spark.plans.suite import _ALL
    from mcas_question2_etl_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — physical-plan audit of the registered specs",
        "",
        f"Generated by `tools/plan_audit.py` against `{sf_dir}`. Numbers are",
        "UNIQUE node counts in the final (AQE) physical plan — a persisted",
        "subtree is re-printed under every cache consumer but executes once,",
        "so verbatim reprints are deduplicated (real nodes stay distinct via",
        "expr ids). 'shuffles' counts `Exchange hashpartitioning` (the",
        "scale-determining cost); 'single' counts `Exchange SinglePartition`",
        "(an unpartitioned window or global sort: one task holds every row);",
        "'python' counts Arrow-batched Python",
        "stages (0 for every relational op — only geo/multimodal use them,",
        "by design).",
        "",
        "| query | shuffles | single | broadcasts | BHJ | SMJ | top-k | python | pushed filters | read schema |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for spec in _ALL:
        df = spec.fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()  # materialize AQE final plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        a = audit(plan)
        pushed = "; ".join(p for p in a["pushed"] if p)[:80] or "—"
        schema = (a["schemas"][0][:60] + "…") if a["schemas"] else "—"
        lines.append(
            f"| {spec.name} | {a['shuffles']} | {a['single']} | {a['broadcasts']} | {a['bhj']} "
            f"| {a['smj']} | {'✓' if a['takeordered'] else '—'} | {a['python']} "
            f"| `{pushed}` | `{schema}` |"
        )

    lines += [
        "",
        "Reading the table: a query whose filter column appears under",
        "'pushed filters' never materializes non-matching row groups; a",
        "narrow 'read schema' proves column pruning reached the scan; BHJ",
        "(broadcast hash join) rows avoid shuffling the fact side entirely.",
        "",
    ]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
