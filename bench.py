"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
SHORT JSON line: {"metric", "value", "unit", "sf", "n_queries", "failed",
"runs", "spread_pct"}.

Methodology (round 8): THREE full passes over every registered query in
one session; ``value`` is the MEDIAN of the three whole-pass totals and
``runs`` records all three, so every artifact carries its own variance
evidence — a perf claim outside the recorded spread is a real move, one
inside it is session noise (BENCH_NOTES.md documents the ±19% band that
single-total artifacts could not distinguish).  ``comparable_min_total``
(in BENCH_DETAIL.json) keeps the r1–r7 sum-of-per-query-mins semantics
for cross-round comparison.

The per-query timing map lives in ``BENCH_DETAIL.json`` next to this
script, NOT on stdout: the driver captures a bounded tail of stdout, and
round 1's full map overflowed it.  The Spark console progress bar is
disabled — its ``\\r[Stage N:...]`` repaints were the only other stdout
writer and filled the driver's captured tail with spam (BENCH_r07.json).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__ as entrymod  # noqa: E402
from nr_rfc_dischargeobs_spark.plans.extensions import (  # noqa: E402
    release_plan_caches,
)
from nr_rfc_dischargeobs_spark.session import get_spark  # noqa: E402

# Every registered query runs to completion (count() forces full
# execution without driver-side result transfer).
PASSES = 3


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # -Xlog:disable: JVM unified logging (GC warnings etc.) writes to
    # STDOUT and would corrupt the one-JSON-line contract.
    # showConsoleProgress=false: the stage progress bar also repaints on
    # stdout and was the stage-spam tail in the r1–r7 driver artifacts.
    spark = get_spark(
        "bench",
        extra_conf={
            "spark.driver.extraJavaOptions": "-Xlog:disable",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Bench the raw operator plans: the canonical ORDER BY that queries()
    # wraps around every entry exists solely so the external value-hash
    # compare sees one row order — it is not part of any operator's
    # semantics, and its extra range-partitioning stage (sample + sort per
    # query) would add a flat ~0.3 s/query of compare-harness overhead to
    # a throughput measurement (measured +27 s over 87 queries at sf0.1).
    queries = entrymod._raw_queries()
    names = list(queries)

    # Full UNTIMED warm-up pass: whole-stage codegen JITs per plan shape,
    # so a single warm-up query leaves every other query's first timed
    # execution paying its own compile+JIT (measured: pass 1 ran 27%
    # slower than pass 2 at sf0.001 with only one warm-up query, which
    # would dominate the recorded spread).  One full pass primes codegen,
    # JIT, and parquet footer caches for all 130 plans.
    # A warm-up failure is reported (stderr) and the pass goes on; the
    # timed passes below decide whether the query counts as failed.
    for name in names:
        try:
            queries[name](spark, sf_dir).count()
        except Exception as ex:  # noqa: BLE001 — report, don't die
            print(f"bench: warm-up {name} FAILED: {ex}", file=sys.stderr)
        finally:
            release_plan_caches()

    # Three full passes; per-query per-pass timings.  A failing query must
    # never kill the run — the one-JSON-line contract survives, the failure
    # lands on stderr, and the query is excluded from EVERY pass total so
    # the three totals stay comparable to each other.
    # Plan-owned caches (PQ codes, SemDeDup assignment) are released after
    # EVERY timed execution: without the release, each invocation pins a
    # fresh CacheManager entry, later queries run under accreting
    # storage-memory pressure, and — because the CacheManager substitutes
    # cached fragments into semantically equal plans — later passes of the
    # PQ queries would silently time a cache read instead of the plan.
    # (See BENCH_NOTES.md for the measured effect.)
    per_pass: dict[str, list[float]] = {n: [] for n in names}
    failed: list[str] = []
    for _ in range(PASSES):
        for name in names:
            if name in failed:
                continue
            t0 = time.time()
            try:
                queries[name](spark, sf_dir).count()
                elapsed = round(time.time() - t0, 3)
            except Exception as ex:  # noqa: BLE001 — report, don't die
                print(f"bench: {name} FAILED: {ex}", file=sys.stderr)
                failed.append(name)
                per_pass.pop(name, None)
                continue
            finally:
                # ALSO on failure: plan construction may already have
                # pinned caches (the PQ/IVF-PQ persists happen at build
                # time) — a failed query must not leak them into every
                # subsequent timing.  The clock is stopped before this
                # runs, so the release cost stays out of the numbers.
                release_plan_caches()
            per_pass[name].append(elapsed)

    # the lifecycle promise, checked: a full bench run ends cache-clean
    try:
        cache_empty = bool(
            spark._jsparkSession.sharedState().cacheManager().isEmpty()
        )
    except Exception:  # noqa: BLE001 — introspection only, never fatal
        cache_empty = None

    ok = {n: ts for n, ts in per_pass.items() if len(ts) == PASSES}
    runs = [
        round(sum(ts[i] for ts in ok.values()), 3) for i in range(PASSES)
    ]
    value = round(statistics.median(runs), 3) if runs else 0.0
    spread_pct = (
        round(100.0 * (max(runs) - min(runs)) / value, 2)
        if runs and value
        else None
    )
    detail = {
        "metric": "headline_queries_total",
        "value": value,
        "unit": "sec",
        # n_queries disambiguates partial runs: "value" sums only the
        # queries that completed all passes, so a record with failures is
        # NOT comparable to a full-sweep total unless n_queries says how
        # many it covered.
        "n_queries": len(ok),
        "runs": runs,
        "spread_pct": spread_pct,
        # per-query: median of the three passes (robust single number),
        # plus the raw passes for plan-shaped-vs-uniform diagnosis
        "queries": {n: round(statistics.median(ts), 3) for n, ts in ok.items()},
        "queries_passes": {n: ts for n, ts in ok.items()},
        # sum of per-query mins — the r1–r7 artifacts' semantics, kept so
        # BENCH_r08+ stays directly comparable to earlier rounds
        "comparable_min_total": round(
            sum(min(ts) for ts in ok.values()), 3
        ),
        "failed": failed,
        "cache_empty_at_end": cache_empty,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    detail_path = Path(__file__).resolve().parent / "BENCH_DETAIL.json"
    detail_path.write_text(json.dumps(detail, indent=2) + "\n")

    out = {
        "metric": "headline_queries_total",
        "value": value,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": len(ok),
        "failed": len(failed),
        "runs": runs,
        "spread_pct": spread_pct,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
