"""Benchmark launcher: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout of the repository. It pins the
environment, starts ``perfbench/bench.py`` in its own process group,
enforces the run's deadline, and stops every process the run started
(the Python worker and the Spark driver JVM) before it exits.

Environment it fixes for the run:

- ``SPARK_GRAFT_CPUS`` = the host's core count, so the engine runs
  ``local[nproc]`` (the engine's own default is 32);
- ``SPARK_GRAFT_DRIVER_MEM`` = 4g unless set (the engine asks for 16g);
- ``TMPDIR`` and ``SPARK_LOCAL_DIRS`` inside the checkout, so every file
  the run writes stays there and is removed at the end.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

DEADLINE_S = 170.0  # the whole run
FIRST_RUN_DEADLINE_S = 880.0  # a fresh checkout also computes its oracle answers


def _nproc() -> int:
    try:
        return int(subprocess.run(["nproc"], capture_output=True, text=True,
                                  timeout=10).stdout.strip())
    except (OSError, ValueError, subprocess.SubprocessError):
        return os.cpu_count() or 1


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def _stop_group(pgid: int) -> None:
    """TERM then KILL the run's process group, and wait until it is gone."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + grace
        while time.monotonic() < end and _group_alive(pgid):
            time.sleep(0.1)


def main() -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "cdc_example_spark", "session.py")):
        print("perfbench: run from the root of a repository checkout "
              "(cdc_example_spark/ not found)", file=sys.stderr)
        return 2
    state = os.path.join(root, ".perfbench")
    first_run = not os.path.isdir(state)
    tmp = os.path.join(state, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(_nproc())
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = tmp
    env["PYTHONPATH"] = root + os.pathsep + env.get("PYTHONPATH", "")
    env.pop("OMP_NUM_THREADS", None)
    # a TERM to the launcher still stops the run's process group (finally)
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.bench", *sys.argv[1:]],
        cwd=root, env=env, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=FIRST_RUN_DEADLINE_S if first_run else DEADLINE_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded its deadline", file=sys.stderr)
        code = 3
    except KeyboardInterrupt:
        code = 130
    finally:
        _stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
