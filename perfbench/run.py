"""Code-search benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 8 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` Spark's event log is switched on and the metrics are
the per-layer ones. The line before it carries diagnostics (host steal,
per-operation medians). See perfbench/README.md.

Everything a run writes goes under .perfbench_work/ in the checkout. The
run's own directory is deleted at the end; .perfbench_work/cache keeps
the interactive workload's index, one per engine source tree.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
CORES = 2  # two of the 4 vCPUs stay with the driver JVM, the Python driver and the OS
N_DOCS = 1000


def declared_metrics(trace: bool) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _process_age_s() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up is included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Spark's
    Python workers import the package from the repository root."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    tempfile.tempdir = tmp


def _stop(spark) -> None:
    """Stop the session and wait until the JVM and its Python workers
    have exited."""
    from pyspark import SparkContext

    from perfbench.host import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    # a later session in this process launches a fresh JVM
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 20
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        os.kill(pid, 9)


def run(workload: str, seed: int, seconds: float, trace: bool,
        n_docs: int = N_DOCS, corrupt=None) -> dict:
    """Run one workload and return the result object that is printed."""
    age0 = _process_age_s()
    work = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    saved_env, saved_tmp = dict(os.environ), tempfile.tempdir
    try:
        res = _run_in(work, workload, seed, seconds, trace, n_docs, corrupt)
    finally:
        os.environ.clear()
        os.environ.update(saved_env)
        tempfile.tempdir = saved_tmp
        shutil.rmtree(work, ignore_errors=True)
    # process start until the workload's own set-up begins, less the
    # calm-host wait
    res.e2e["setup_s"] += age0 + res.diag["session_s"] + res.diag["imports_s"]
    if trace:
        res.per_layer["session.start_s"] = res.diag["session_s"]
        # the same end-to-end figures with event logging on: their ratio
        # to the untraced run's is the tracing overhead
        res.per_layer.update({f"traced.{k}": v for k, v in res.e2e.items()})
    metrics = res.per_layer if trace else res.e2e
    units = declared_metrics(trace)
    if set(metrics) != set(units):
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: missing {sorted(set(units) - set(metrics))}, "
            f"undeclared {sorted(set(metrics) - set(units))}")
    return {
        "diag": res.diag,
        "errors": res.errors,
        "result": {
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        },
    }


def _run_in(work: str, workload: str, seed: int, seconds: float, trace: bool,
            n_docs: int, corrupt):
    _environment(work)
    tmp = os.path.join(work, "tmp")
    log_dir = os.path.join(work, "eventlog")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from perfbench.host import StealMeter, wait_calm

    # the set-up window: a calm-host wait, then steal from here until the
    # workload's set-up ends
    calm_wait_s = wait_calm()
    setup_meter = StealMeter()
    t0 = time.perf_counter()
    from ck_spark.session import get_spark

    from perfbench import workloads
    from perfbench.trace import EventLog

    t1 = time.perf_counter()
    spark = get_spark("perfbench", cores=CORES, extra_conf=conf)
    t2 = time.perf_counter()
    try:
        bench = workloads.Bench(spark, work, os.path.join(WORK_ROOT, "cache"), seed,
                                seconds, trace, n_docs, corrupt, calm_wait_s, setup_meter)
        res = getattr(workloads, workload)(bench)
    finally:
        t3 = time.perf_counter()
        _stop(spark)
    res.diag.update(imports_s=t1 - t0, session_s=t2 - t1, stop_s=time.perf_counter() - t3)
    if trace:
        bench.event_layers(EventLog.read(log_dir))
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["interactive", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "ck_spark", "__init__.py")):
        print(f"perfbench: no ck_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    out = run(a.workload, a.seed, a.seconds, bool(a.trace))
    for e in out["errors"]:
        print(e, file=sys.stderr)
    print(json.dumps({"diag": out["diag"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
