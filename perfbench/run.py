"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. It starts the
workload in one child process (``python3 -m perfbench.harness``) with
PYTHONPATH at the checkout root, so Spark's Python workers (Arrow UDFs)
import ``sparksimjoin`` from the same tree, then stops every process
the child left behind. Scratch files go under ``.perfbench_work/`` in
the checkout. The last line of standard output is the result JSON.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
TIMEOUT_S = 170


def _stop_group(pgid: int) -> None:
    """Terminate, then kill, every process left in the child's session,
    and wait until none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 10
        try:
            os.killpg(pgid, sig)
            while time.monotonic() < deadline:
                time.sleep(0.2)
                os.killpg(pgid, 0)
        except ProcessLookupError:
            return


def main() -> int:
    if not (ROOT / "sparksimjoin" / "__init__.py").is_file():
        print(f"perfbench: no sparksimjoin package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    tmp = work / "tmp"
    tmp.mkdir()
    # every JVM (spark-submit's launcher too) and Python keep their
    # scratch files inside the checkout
    env = dict(os.environ, PYTHONPATH=str(ROOT), PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable, TMPDIR=str(tmp),
               SPARK_LOCAL_DIRS=str(work / "spark-local"),
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    env.pop("SPARK_MASTER_SET", None)  # else get_spark leaves the master unset
    cmd = [sys.executable, "-m", "perfbench.harness", *sys.argv[1:], "--work", str(work)]
    # a SIGTERM to this launcher still stops the child's whole session
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S}s, stopped", file=sys.stderr)
        code = 1
    finally:
        proc.kill()
        proc.wait()
        _stop_group(proc.pid)
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
