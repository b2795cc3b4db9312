"""Benchmark entry point.  Run from the repository root:

    python3 perfbench/run.py --workload hourly_ingest --seed 1 --seconds 14 --trace 0

Workloads: ``hourly_ingest`` (EP1 tick + EP3 leg) and ``query_surface``
(registered plans); see ``perfbench/METHODOLOGY.md``.

This process pins the environment (``SPARK_GRAFT_CPUS`` = half the usable cores,
a 2 GiB driver heap, the repository root on ``PYTHONPATH`` so Python
workers can import the package, Spark's local dirs and every store/output
path inside one fresh temp directory under ``.perfbench_tmp/``), runs
``worker.py`` in its own process group, removes the temp directory, and
prints the environment, each metric with its unit, any failed output
check, and, as the last line, one JSON object: ``{"correct", "attempted", "failed", "metrics"}``
— the ``end_to_end`` metrics of ``BENCHMARK.json`` with ``--trace 0``,
its ``per_layer`` metrics with ``--trace 1``.  A traced run also writes
its spans to ``.perfbench_out/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

T0 = time.time()
HERE = Path(__file__).resolve().parent
TIMEOUT_S = 170
DRIVER_MEM = "2g"


def _fs_type(path: Path) -> str:
    best, kind = "", "?"
    with open("/proc/mounts", encoding="utf-8") as fh:
        for line in fh:
            parts = line.split()
            mnt = parts[1]
            if str(path).startswith(mnt) and len(mnt) > len(best):
                best, kind = mnt, parts[2]
    return kind


def _stop_group(proc: subprocess.Popen) -> None:
    """SIGKILL whatever is left of the worker's process group (the Spark
    JVM and its Python workers included), reap the worker, and wait until
    the rest of the group is gone."""
    pgid = proc.pid
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    finally:
        proc.wait()
    for _ in range(600):
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    spec = json.loads((root / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload}", file=sys.stderr)
        return 2
    if not (root / "nr_rfc_dischargeobs_spark").is_dir():
        print("run from the repository root: package not found", file=sys.stderr)
        return 2

    base = root / ".perfbench_tmp"
    base.mkdir(exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base))
    for d in ("local", "tmp"):
        (tmp / d).mkdir()
    nproc = len(os.sched_getaffinity(0))
    # Spark gets half the cores; the driver's Python, the JIT compiler and
    # GC threads keep the rest busy.  local[nproc] oversubscribed a 4-core
    # VM: ticks ran slower and a few percent of host steal slowed them by
    # a third (METHODOLOGY.md).
    cpus = max(1, nproc // 2)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(root), env.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(tmp / "local"),
        "TMPDIR": str(tmp / "tmp"),
        # no hsperfdata files under /tmp from the launcher JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    env.pop("OMP_NUM_THREADS", None)
    result_path = tmp / "result.json"
    cmd = [
        sys.executable, str(HERE / "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--tmp", str(tmp), "--t0", repr(T0), "--result", str(result_path),
    ]
    import pyspark

    print(
        f"# env nproc={nproc} store_fs={_fs_type(tmp)} pyspark={pyspark.__version__}"
        f" python={sys.version.split()[0]} driver_mem={DRIVER_MEM}"
        f" master=local[{cpus}]",
    )
    # a SIGTERM still runs the finally below: no worker outlives this process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # the worker's stdout goes to stderr: the result must be the last line
    proc = subprocess.Popen(cmd, env=env, cwd=root, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, TIMEOUT_S - (time.time() - T0)))
        result = json.loads(result_path.read_text()) if code == 0 else None
    except subprocess.TimeoutExpired:
        print("worker timed out", file=sys.stderr)
        code, result = -1, None
    finally:
        _stop_group(proc)
        shutil.rmtree(tmp, ignore_errors=True)
    if result is None:
        print(f"worker failed (exit {code})", file=sys.stderr)
        return 1

    attempted, failed = result["attempted"], result["failed"]
    print(
        f"# workload={args.workload} seed={args.seed} warm_ops={result['warm_ops']}"
        f" obs_per_op={result['obs_per_op']} failed_share={failed / attempted:.4f}"
    )
    for cause in result["failures"]:
        print(f"# FAILED {cause}")
    if args.trace:
        values = {m["name"]: (result["per_layer"][m["name"]], m["unit"])
                  for m in spec["per_layer"]}
        out = root / ".perfbench_out"
        out.mkdir(exist_ok=True)
        (out / f"trace-{args.workload}-{args.seed}.json").write_text(json.dumps(
            {"per_layer": result["per_layer"], "spans": result["spans"]}))
    else:
        for name, (v, unit) in result["end_to_end"].items():
            print(f"# {name} {v:.6g} {unit}")
        values = {m["name"]: (result["end_to_end"][m["name"]][0], m["unit"])
                  for m in spec["end_to_end"]}
    for name, (v, unit) in values.items():
        print(f"{name} {v:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
