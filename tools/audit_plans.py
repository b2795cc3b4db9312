"""Plan audit: physical-plan facts for every ``queries()`` entry.

Walks the optimized plan of each registered query at the given sf_dir and
tabulates the properties the engine promises (SURVEY.md §4, README "Scale
posture"): parquet scans with pushed filters and pruned schemas, exchange
(shuffle) count, broadcast vs sort-merge joins, and any Python eval nodes.
Writes PLANS.md so plan regressions show up in review diffs, not in fleet
telemetry.

Plan construction is job-free for every registered query EXCEPT the two
PQ plans (``sim_pq_codes``, ``sim_pq_adc_topk``): those collect the 8-row
codebook at build time (a model parameter — see the stated exception in
their docstrings), so auditing them executes two metadata-scale Spark
jobs.  The audit additionally releases plan-owned caches between queries
(``release_plan_caches``) so a full sweep ends with an empty CacheManager.

    python tools/audit_plans.py [sf_dir] [out_md]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

PY_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
)


def formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def audit_one(plan: str) -> dict:
    # count nodes from the numbered details section only (the tree section
    # repeats every node name)
    nodes = [m.group(1) for m in re.finditer(r"^\(\d+\) (\w+)", plan, re.M)]
    return {
        "scans": sum(n == "Scan" for n in nodes),
        "pushed": len(re.findall(r"PushedFilters: \[(?!\])", plan)),
        "exchanges": sum(n == "Exchange" for n in nodes),
        "bhj": sum(n == "BroadcastHashJoin" for n in nodes),
        "smj": sum(n == "SortMergeJoin" for n in nodes),
        "python": sum(n in PY_NODES for n in nodes),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "PLANS.md"

    import __spark_entry__ as entrymod
    from nr_rfc_dischargeobs_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    from nr_rfc_dischargeobs_spark.plans.extensions import release_plan_caches

    rows = []
    for name, fn in entrymod.queries().items():
        a = audit_one(formatted(fn(spark, sf_dir)))
        release_plan_caches()
        rows.append((name, a))
        print(
            f"{name:40s} scans={a['scans']} pushed={a['pushed']} "
            f"xchg={a['exchanges']} bhj={a['bhj']} smj={a['smj']} "
            f"py={a['python']}"
        )

    total_py = sum(a["python"] for _, a in rows)
    lines = [
        "# PLANS — physical-plan audit of every registered query",
        "",
        f"Generated by `python tools/audit_plans.py {sf_dir}`. Columns:",
        "parquet scans / scans with non-empty `PushedFilters` / shuffle",
        "exchanges / broadcast-hash joins / sort-merge joins / Python eval",
        "nodes.  Engine promises: Python nodes",
        "only in the four justified kernels — the",
        "gated multimodal decode, the refine re-rank (BLAS matmul), the",
        "real PNG decode, and the JPEG header walk (fixture generation +",
        "inflate/filter reversal/marker parsing are inherently",
        "imperative byte work);",
        "sort-merge only where both sides are genuinely large;",
        "every scan predicate pushed.",
        "",
        "| query | scans | pushed | exchanges | BHJ | SMJ | python |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, a in rows:
        lines.append(
            f"| {name} | {a['scans']} | {a['pushed']} | {a['exchanges']} "
            f"| {a['bhj']} | {a['smj']} | {a['python']} |"
        )
    lines += [
        "",
        f"Totals: {len(rows)} queries, "
        f"{sum(a['exchanges'] for _, a in rows)} exchanges, "
        f"{sum(a['bhj'] for _, a in rows)} broadcast joins, "
        f"{sum(a['smj'] for _, a in rows)} sort-merge joins, "
        f"{total_py} Python eval nodes.",
        "",
        "Note on `ext_curate_corpus` (the one >2-exchange-per-stage plan):",
        "its SMJs are the large-large shingle joins of the composed",
        "gate→exact→LSH→Jaccard pipeline.  An exchange-diet A/B (round 4,",
        "sf0.1, warm ×3) found the shape minimal: pre-partitioning the",
        "cached shingle table by doc_id does NOT reduce wall time (2.3-2.7 s",
        "vs 2.3-2.8 s) because its three consumers need three mutually",
        "incompatible clusterings — (doc_id) for signatures/sizes,",
        "(band, sig) for LSH, (doc_b, shingle) for the intersection join —",
        "so one pre-shuffle cannot serve them all.  What DID win: the exact-",
        "dedup survivor pick is a groupBy-min (map-side combine), not a",
        "row_number window (full shuffle+sort) — 2.5 s vs 2.9 s pipeline-",
        "warm, same values (`extensions/curate.py`).",
        "",
    ]
    Path(out_md).write_text("\n".join(lines))
    print(f"\nwrote {out_md}")


if __name__ == "__main__":
    main()
