"""One benchmark run inside a fresh Python process (started by ``run.py``,
which owns the environment, the temp directory and the result line).

Phases: session start → workload set-up → ``WARMUP_OPS`` untimed ops (the
first gives the cold time) → closed-loop timed ops for ``--seconds`` →
end-of-run output checks → shutdown of the Spark JVM → per-layer roll-up
when tracing.  The result is written as
JSON to ``--result``.
"""

from __future__ import annotations

import argparse
import json
import resource
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from spans import Rollup, Tracer, median, read_event_log  # noqa: E402
from workloads import POOLS, WARMUP_OPS, WORKLOADS, family  # noqa: E402


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    tmp = Path(args.tmp)
    traced = bool(args.trace)

    from pyspark import SparkContext

    from nr_rfc_dischargeobs_spark.session import get_spark

    conf = {
        # JVM unified logging and the progress bar both write to stdout
        "spark.driver.extraJavaOptions": (
            # a pre-touched fixed heap: the JVM's RSS does not depend on
            # how far the heap happened to grow before a collection
            "-Xlog:disable -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch"
            f" -Djava.io.tmpdir={tmp / 'tmp'}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
    }
    if traced:
        (tmp / "events").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(tmp / "events"),
            # Spark 4 zstd-compresses the log by default
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    workload = WORKLOADS[args.workload](args.seed)
    t_session = time.time()
    spark = get_spark("perfbench", extra_conf=conf)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    jvm = SparkContext._gateway.proc
    session_s = time.time() - t_session
    tracer = Tracer(sc, traced)

    t_inputs = time.time()
    workload.setup(spark, tmp, tracer)
    inputs_s = time.time() - t_inputs

    failures: list[str] = []
    attempted = failed = 0

    def one() -> tuple[float, int | None]:
        nonlocal attempted, failed
        inputs = workload.prepare()
        attempted += 1
        with tracer.span("op"):
            sid = len(tracer.spans) - 1 if traced else None
            t = time.perf_counter()
            try:
                bad = workload.run(inputs)
            except Exception as ex:  # noqa: BLE001 — counted, with its cause
                traceback.print_exc()
                bad = [f"{workload.op}: {type(ex).__name__}: {str(ex)[:300]}"]
            dt = time.perf_counter() - t
        if bad:
            failed += 1
            failures.extend(bad)
        return dt, sid

    cold = one()[0]
    for _ in range(WARMUP_OPS - 1):
        one()
    setup_s = time.time() - args.t0
    print(f"perfbench: session {session_s:.2f}s inputs {inputs_s:.2f}s cold "
          f"{cold:.2f}s setup {setup_s:.2f}s", file=sys.stderr)

    # closed loop; an op starts only if at least half of it fits, so a run
    # measures --seconds give or take half an op
    warm: list[tuple[float, int | None]] = []
    t_loop = time.perf_counter()
    while not warm or time.perf_counter() - t_loop + warm[-1][0] / 2 < args.seconds:
        warm.append(one())
        print(f"perfbench: {workload.op} {warm[-1][0]:.3f}s", file=sys.stderr)
    try:
        bad = workload.finish()
    except Exception as ex:  # noqa: BLE001 — counted, with its cause
        traceback.print_exc()
        bad = [f"finish: {type(ex).__name__}: {str(ex)[:300]}"]
    if bad:
        failures.extend(bad)
        failed += len(warm)
    store = workload.store_layer()

    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0 + _vm_hwm_mb(jvm.pid)
    spark.stop()
    SparkContext._gateway.shutdown()
    jvm.stdin.close()
    jvm.wait(timeout=60)

    times = [dt for dt, _ in warm]
    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_op_p50_s": (cold, "s"),
        "op_p50_s": (median(times), "s"),
        "ops_per_s": (len(times) / sum(times), "1/s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    if workload.obs_per_op:
        e2e["obs_per_s"] = (workload.obs_per_op * len(times) / sum(times), "1/s")
    if hasattr(workload, "queries"):
        e2e["queries_per_s"] = (len(workload.queries) * len(times) / sum(times), "1/s")
    result = {
        "attempted": attempted,
        "failed": failed,
        "failures": failures[:20],
        "warm_ops": len(times),
        "obs_per_op": workload.obs_per_op,
        "end_to_end": e2e,
    }
    if traced:
        result["per_layer"], result["spans"] = per_layer(
            workload, tracer, read_event_log(str(tmp / "events")), warm, cold,
            session_s, inputs_s, store,
        )
    Path(args.result).write_text(json.dumps(result))
    return 0


def per_layer(workload, tracer, jobs, warm, cold, session_s, inputs_s, store):
    op_ids = [sid for _, sid in warm]
    r = Rollup(tracer, jobs, op_ids)
    n = r.n
    m = {
        "session.start_s": session_s,
        "setup.inputs_s": inputs_s,
        "traced.op_p50_s": median([dt for dt, _ in warm]),
        "jit.cold_extra_s": cold - median([dt for dt, _ in warm]),
        "sources.conform.build_s": r.time("sources.conform.build"),
        "sources.store.exists_s": r.time("sources.store.exists"),
        "sources.store.merge_plan_s": r.time("sources.store.merge_plan"),
        # includes running the conform plans, which are built lazily
        "sources.store.write_s": r.time("sources.store.upsert")
        - r.time("sources.store.exists") - r.time("sources.store.merge_plan"),
        "sources.store.upsert_jobs": r.jobs("sources.store.upsert"),
        "sources.swob.weather_s": r.time("sources.swob.weather"),
        "pipelines.ingest_weather_s": r.time("pipelines.ingest_weather"),
        "pipelines.weather_wide_s": r.time("pipelines.weather_wide"),
        "plans.build_s": r.time("plans.build"),
        "plans.build_jobs": r.jobs("plans.build"),
        "plans.exec_s": r.time("plans.exec"),
        "plans.exec_jobs": r.jobs("plans.exec"),
        "plans.release_s": r.time("plans.release"),
    }
    m.update(store)
    cat = getattr(workload, "catalyst", {})
    # one entry per query; the warm-up ops recorded first
    skip = WARMUP_OPS * len(getattr(workload, "queries", ()))
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_s"] = sum(cat.get(ph, [])[skip:]) / n
    for fam in POOLS:
        qs = [s for s in r.op_spans
              if s["name"].startswith("op.") and family(s["name"][3:]) == fam]
        m[f"pool.{fam}_s"] = sum(s["t1"] - s["t0"] for s in qs) / n
        m[f"pool.{fam}.build_jobs"] = sum(
            len(r.jobs_under(c)) for s in qs for c in r.children.get(s["id"], [])
            if tracer.spans[c]["name"] == "plans.build"
        ) / n
    m.update(r.spark())
    own = r.self_by_layer()
    for layer in ("op", "sources", "pipelines", "plans"):
        m[f"self.{layer}_s_per_op"] = own.get(layer, 0.0)
    spans = [dict(s, op=r.root[s["id"]]) for s in tracer.spans]
    return m, spans


if __name__ == "__main__":
    sys.exit(main())
