"""Host state recorded with every run (for reading results, not gating).

Two canaries time a fixed amount of work in ``nproc`` processes at once,
never more, so on a quiet host their wall is the single-process time;
one is a pure-Python loop, one a single-threaded numpy matmul. A slow
reading means the host was busy during the run.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from pathlib import Path

_PY_CANARY = "s = 0\nfor i in range(1_000_000):\n    s += i * i\n"
_NP_CANARY = (
    "import numpy as np\n"
    "a = np.random.default_rng(0).standard_normal((384, 384))\n"
    "for _ in range(10):\n    a = np.tanh(a @ a.T / 384.0)\n"
)
_ONE_THREAD = {k: "1" for k in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _canary(code: str, procs: int) -> float:
    env = {**os.environ, **_ONE_THREAD}
    t0 = time.perf_counter()
    running = [subprocess.Popen([sys.executable, "-c", code], env=env) for _ in range(procs)]
    for p in running:
        p.wait()
    return time.perf_counter() - t0


def _commit(root: Path) -> str:
    if not (root / ".git").exists():
        return "unknown (not a git checkout)"
    try:
        out = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() or "unknown"


def stamp(root: Path, seed: int) -> dict:
    n = nproc()
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": n,
        "loadavg": load,
        "commit": _commit(root),
        "seed": seed,
        "canary_python_s": round(_canary(_PY_CANARY, n), 4),
        "canary_numpy_s": round(_canary(_NP_CANARY, n), 4),
        "canary_procs": n,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid or os.getpid(), []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout: float, kill: int) -> None:
    """Wait until every pid has exited; signal ``kill`` to any left at
    the timeout, then wait for those too."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, kill)
            except OSError:
                pass
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def tree_peak_rss_mb() -> float:
    """Sum of peak resident set (VmHWM) over this process and its live
    descendants: the driver, the JVM it launched and the Python workers."""
    total_kb = 0
    for p in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
