"""Stream-engine benchmark entry point.

    python3 perfbench/run.py --workload produce --seed 1 --seconds 12 --trace 0

Run from the repository root.  Builds its inputs from ``--seed``, drives the
engine package found beside this directory on ``local[k]`` (k = the CPUs this
process may use, at most 2), checks the outputs and prints one JSON object as
the last line of standard output.  ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer ones and writes the spans to
``.perfbench_out/``.  Exits non-zero when any output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Fewer task threads than a small host has cores: the JVM's own threads, the
# Python workers and the load generator need cores too, or the figures
# measure the scheduler.
MAX_CORES = 2


def _environment(work: str) -> None:
    """Keep every file Spark writes inside the checkout, and make this
    checkout importable in Spark's Python workers."""
    tmp = os.path.join(work, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = "512m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    # no hsperfdata files: every JVM Spark starts would write one under /tmp;
    # few GC threads, for the reason behind MAX_CORES
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )


def _alive(pids: list[int]) -> list[int]:
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                    out.append(pid)
        except OSError:
            continue
    return out


def _stop_jvm() -> None:
    """Stop the Py4J gateway JVM and wait until it and every process under
    it (the Python worker daemon and workers) has ended."""
    from pyspark import SparkContext

    from perfbench.probes import descendants

    tree = descendants(os.getpid())
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    while _alive(tree) and time.time() < deadline:
        time.sleep(0.2)
    for pid in _alive(tree):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while _alive(tree):
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["produce", "consume"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "logspout_kinesis_tests_spark", "__init__.py")):
        print(f"perfbench: no engine package logspout_kinesis_tests_spark in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench_work")
    _environment(work)
    os.chdir(work)
    from perfbench.workloads import run_workload

    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    try:
        result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace),
                              ROOT, cores)
    finally:
        _stop_jvm()
        shutil.rmtree(os.environ["TMPDIR"], ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
