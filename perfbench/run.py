"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload mover-drain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads are listed in BENCHMARK.json
with the metrics; perfbench/README.md describes them. The run happens in a
child process (perfbench/worker.py) that gets its configuration from the
environment set here: all cores, a host-sized driver heap, the checkout
on PYTHONPATH (the Python workers of pandas UDFs import the package), and
a private TMPDIR, SPARK_LOCAL_DIRS and JVM temp dir under
``.perfbench_work/``, removed afterwards. The child's process group is
killed and reaped before this script exits. The last line of standard
output is the result object.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("mover-drain", "cdc-paced", "analytics-mix")
CHILD_TIMEOUT_S = 170


def driver_mem() -> str:
    """An eighth of physical memory, capped at 1 GiB: the inputs are small,
    and a heap that fills keeps the peak RSS from wandering with GC timing."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration, ValueError):
        return "1g"
    return f"{max(256, min(1024, kb // (8 * 1024)))}m"


def settings(workdir: str) -> dict[str, str]:
    tmp = os.path.join(workdir, "tmp")
    mem = driver_mem()
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "PYTHONPATH": ROOT,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "local"),
        # every JVM (the spark-submit launcher too): private temp dir, no
        # perf-data files under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # driver JVM: a fixed, pre-touched heap, so its resident size does
        # not wander with heap growth and GC timing
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false --driver-java-options "
            f"'-Xms{mem} -XX:+AlwaysPreTouch' pyspark-shell"
        ),
        "PYTHONDONTWRITEBYTECODE": "1",
    }


def reap(pgid: int) -> None:
    """Kill what is left of the child's process group and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 5
        while time.time() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "brooklin_spark", "manager.py")):
        print("perfbench: no brooklin_spark package in this checkout", file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    outdir = os.path.join(ROOT, ".perfbench_out", a.workload)
    env_set = settings(workdir)
    for d in (env_set["TMPDIR"], env_set["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    print("settings: " + json.dumps(env_set, sort_keys=True), flush=True)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), a.workload, str(a.seed),
           str(a.seconds), str(a.trace), workdir, outdir]
    child = subprocess.Popen(cmd, cwd=ROOT, env=dict(os.environ, **env_set),
                             stdout=subprocess.PIPE, text=True, start_new_session=True)

    def on_term(signum, _frame):
        raise SystemExit(128 + signum)  # unwinds through the finally below

    signal.signal(signal.SIGTERM, on_term)
    try:
        out, _ = child.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = ""
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
    finally:
        reap(child.pid)
        child.wait()
        shutil.rmtree(workdir, ignore_errors=True)
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line)
    if child.returncode != 0 or not lines:
        print(f"perfbench: worker exited with {child.returncode}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    with open(os.path.join(outdir, "settings.json"), "w") as f:
        json.dump(env_set, f, indent=1, sort_keys=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
