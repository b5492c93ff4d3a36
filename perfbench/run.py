"""Benchmark entry point: pins the run environment, runs one measurement in
a fresh driver process, and cleans up after it.

    python3 perfbench/run.py --workload book_batch --seed 1 --seconds 12 --trace 0

Run it from the repository root. The environment of the measuring process:

- ``PYTHONPATH`` is the repository root, so Python workers import the
  package whatever the working directory;
- ``SPARK_GRAFT_CPUS`` is the number of usable cores, ``SPARK_GRAFT_ROUND``
  is 0, and every other ``SPARK_GRAFT_*`` knob is unset;
- ``SPARK_GRAFT_SCRATCH_DIR``, ``TMPDIR`` and ``SPARK_LOCAL_DIRS`` point at a
  fresh directory under ``.perfbench_run/`` that is removed when the run
  ends, so no replay tape or checkpoint survives from an earlier run;
- ``JAVA_TOOL_OPTIONS`` turns off the JVMs' performance-counter files.

The measuring process and everything it starts (the JVM, Python workers)
run in their own process group, which is killed and reaped on exit. All
arguments are passed through to ``perfbench/measure.py``.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "market_microstructure_toolkit_spark"
#: the measuring process must finish within this, or it is killed
TIMEOUT_S = 170


def run_env(scratch: str) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(
        PYTHONPATH=ROOT,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_ROUND="0",
        SPARK_GRAFT_SCRATCH_DIR=scratch,
        TMPDIR=scratch,
        SPARK_LOCAL_DIRS=scratch,
        PYTHONDONTWRITEBYTECODE="1",
        # every JVM (the launcher's and the driver's) would otherwise keep
        # its performance counters in a file under /tmp
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
    )
    return env


def _reap(proc: subprocess.Popen) -> None:
    """Kill what is left of the measuring process group and wait until it
    is gone. Polling reaps the measuring process itself, which would
    otherwise stay in the group as a zombie."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            proc.poll()
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    # a SIGTERM from whoever runs the benchmark still reaps and cleans up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench_run")
    os.makedirs(base, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run_", dir=base)
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.measure", *sys.argv[1:]],
        cwd=ROOT,
        env=run_env(scratch),
        start_new_session=True,
    )
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S}s, killed", file=sys.stderr)
        code = 3
    finally:
        # a second SIGTERM must not cut the clean-up short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        _reap(proc)
        proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    return code


if __name__ == "__main__":
    sys.exit(main())
