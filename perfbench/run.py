"""Crawl benchmark: one command for every workload and metric.

    python3 perfbench/run.py --workload crawl_fresh --seed 42 \
        --seconds 5 --trace 0

The first run in a checkout makes the pool of worlds (world.py, in its
own process); every run then measures in a fresh process
(crawlbench.py) and relays its output: a table of every metric by name
and unit, then, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. Exits non-zero when a crawl
fails its checks or the repository is not there. Every process started
here runs in its own session and is killed, and waited for, before
this command exits. See METHOD.md for what is measured and why.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

import common
import proctree

# a measuring run must end within 180 s; the first run in a checkout,
# which also makes the pool of worlds, within 900 s
DEADLINE_S = 175
POOL_DEADLINE_S = 700


def _session_pids(sid: int) -> list:
    """Live (not zombie) processes of session ``sid``."""
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = proctree.stat_fields(int(name))
            if f is not None and f[0] != "Z" and int(f[3]) == sid:
                pids.append(int(name))
    return pids


def _reap_session(sid: int) -> None:
    """Kill whatever the child's session still runs (the JVM, Python
    workers) and wait until none of it is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            pids = _session_pids(sid)
            if not pids:
                return
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)


def run_child(args: list, deadline: float) -> int:
    proc = subprocess.Popen([sys.executable, *args], env=common.child_env(),
                            cwd=common.ROOT, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        print(f"perfbench: {os.path.basename(args[0])} did not finish "
              "in time", file=sys.stderr)
        return 124
    finally:
        _reap_session(proc.pid)
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(common.WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("ftw_crawler_spark/plans/crawl.py", "tests/oracle.py"):
        if not os.path.exists(os.path.join(common.ROOT, need)):
            print(f"perfbench: {need} not found; run from a checkout of "
                  "the repository", file=sys.stderr)
            return 2

    # scratch left by an earlier run that was killed
    shutil.rmtree(os.path.join(common.CACHE, "tmp"), ignore_errors=True)
    if common.missing_worlds():
        rc = run_child([os.path.join(common.BENCH_DIR, "world.py")],
                       time.monotonic() + POOL_DEADLINE_S)
        if rc != 0:
            print(f"perfbench: making the worlds failed ({rc})",
                  file=sys.stderr)
            return rc or 1
    sys.stdout.flush()
    return run_child([os.path.join(common.BENCH_DIR, "crawlbench.py"),
                      "--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--world", common.world_dir(a.seed % common.POOL)],
                     time.monotonic() + DEADLINE_S)


if __name__ == "__main__":
    sys.exit(main())
