"""Benchmark entry point.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each workload runs in a child process with
its own Spark session (``local[<cores>]``), started from a scratch
directory under ``.perfbench_run/`` rather than the checkout root, with the
package reached through ``PYTHONPATH``. Every file the run writes (SQLite
files, parquet, Spark scratch, temp files) lands under ``.perfbench_run/``,
which each run recreates.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics. With ``--workload
all`` every workload runs, one after another, and metric names carry the
workload as a prefix.
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
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
WORKLOADS = ("bulk", "interactive", "analytic")
#: Wall-clock limit of one workload's child process.
CHILD_TIMEOUT_S = 170


def driver_memory() -> str:
    """A quarter of the machine's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1024, min(4096, kb // 1024 // 4))}m"


def _child_env(tmp: str) -> dict[str, str]:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (env.get("JAVA_TOOL_OPTIONS"), f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}") if p
    )
    env["TZ"] = "UTC"
    env["PYTHONHASHSEED"] = "0"  # same str hashing in every run's Python processes
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_DRIVER_MEMORY"] = driver_memory()
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return env


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2 :].split()
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _stop_group(pgid: int) -> None:
    """Stop whatever the child left behind (JVM, Python workers) and wait
    until every process of its group has ended."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline and _group_alive(pgid):
            time.sleep(0.1)


def run_one(workload: str, args) -> dict | None:
    """Run one workload in a child process; returns its result or None."""
    work = os.path.join(RUN_DIR, workload)
    tmp = os.path.join(work, "tmp")
    os.makedirs(os.path.join(tmp, "spark"))
    cmd = [
        sys.executable, "-m", "perfbench.worker", "--workload", workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
    ]  # fmt: skip
    with open(os.path.join(work, "stderr.log"), "w") as err:
        proc = subprocess.Popen(
            cmd, cwd=work, env=_child_env(tmp), stdout=subprocess.PIPE, stderr=err,
            text=True, start_new_session=True,
        )  # fmt: skip
        try:
            out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            _stop_group(proc.pid)
            proc.communicate()
            print(f"{workload}: timed out after {CHILD_TIMEOUT_S} s", file=sys.stderr)
            return None
        finally:
            _stop_group(proc.pid)
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0 or not lines:
        with open(os.path.join(work, "stderr.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"{workload}: exited with code {proc.returncode}", file=sys.stderr)
        return None
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "sqlitedataframe_spark", "__init__.py")):
        print(f"sqlitedataframe_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = {}
    for name in names:
        res = run_one(name, args)
        if res is None:
            return 1
        results[name] = res
    if len(results) == 1:
        print(json.dumps(results[names[0]]))
        return 0
    combined = {
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }
    print(json.dumps(combined))
    return 0


if __name__ == "__main__":
    sys.exit(main())
