"""Benchmark launcher.

    python3 perfbench/run.py --workload ingest_views --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout of the repository. Pins the environment
of the run (CPU count, driver memory, the driver JVM's JIT thresholds,
import path of the Python workers, the engine's config file, Spark's
local and temporary directories, and for ``--trace 1`` the Spark event
log), runs
``driver.py`` in a process group of its own, stops every process left
in that group, and removes the run's scratch directory under
``.perfbench/``. The exit code is the driver's; the last line of
standard output is the driver's JSON result.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_views", "analytic_reads")
#: the driver is killed after this long; a run must end within 180 s
TIMEOUT_S = 170
#: upper bound of Spark's driver memory, kept well below a small box's RAM
MAX_DRIVER_MEM_MB = 2048


def driver_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return min(MAX_DRIVER_MEM_MB, total_kb // 1024 // 4)


def stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, every process still in the group, and wait
    (bounded) until none is left."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + grace
        while time.monotonic() < end:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "pixeltable_spark",
                                       "__init__.py")):
        print(f"perfbench: no pixeltable_spark package in {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    scratch = os.path.join(tmp, "tmp")
    eventlog = os.path.join(tmp, "eventlog")
    for d in (scratch, eventlog, os.path.join(tmp, "spark-local")):
        os.makedirs(d)
    # an empty engine config file: a user's ~/.pixeltable_spark/config.toml
    # must not change the settings a run measures
    config = os.path.join(tmp, "config.toml")
    open(config, "w").close()
    submit = "--conf spark.ui.showConsoleProgress=false "
    if args.trace:
        submit += (f"--conf spark.eventLog.enabled=true "
                   f"--conf spark.eventLog.compress=false "
                   f"--conf spark.eventLog.rolling.enabled=false "
                   f"--conf spark.eventLog.dir={eventlog} ")
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEM=f"{driver_mem_mb()}m",
        # Python workers import pixeltable_spark and the benchmark's udfs
        PYTHONPATH=os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "")
                            .split(os.pathsep) if p]),
        PYTHONHASHSEED="0",
        PIXELTABLE_SPARK_CONFIG=config,
        # extra options of the driver JVM (the engine appends them to
        # spark.driver.extraJavaOptions): the JIT compiles hot methods
        # after a quarter of its default invocation counts, so the loop
        # runs compiled code within a few cycles instead of timing the
        # slope of the compile backlog left by set-up
        SPARK_GRAFT_JAVA_OPTS="-XX:CompileThresholdScaling=0.25",
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        TMPDIR=scratch,
        # every JVM (spark-submit's launcher and the driver): temporary
        # files in the scratch directory, no /tmp/hsperfdata_* files
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={scratch}",
        PYSPARK_SUBMIT_ARGS=submit + "pyspark-shell",
    )
    cmd = [sys.executable, os.path.join(HERE, "driver.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--tmp", tmp, "--eventlog", eventlog]
    # a SIGTERM to the launcher unwinds through the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, env=env, cwd=tmp, start_new_session=True)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S}s", file=sys.stderr)
        code = 3
    finally:
        stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run's directory is still there
    return code


if __name__ == "__main__":
    sys.exit(main())
