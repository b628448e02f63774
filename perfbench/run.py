#!/usr/bin/env python3
"""Benchmark command: run one workload of the record-linkage engine in a
fresh Spark application and print its metrics.

    python3 perfbench/run.py --workload er_pipeline --seed 1 --seconds 1 --trace 0

This process is a supervisor. It probes the host, starts ``worker.py`` in a
session of its own (the worker, its JVM and Spark's Python workers all
belong to it), samples the resident memory of that session, and waits until
every process in it has ended. On a timeout or a signal it kills the whole
session. It then deletes the run directory the worker used as scratch and
prints the result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Everything the run writes stays under ``.perfbench/`` in the checkout.
See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("er_pipeline", "search_batch")
# the whole command must end within 180 s; keep room for the cleanup
DEADLINE_S = 165.0
EXIT_GRACE_S = 20.0
PR_SET_CHILD_SUBREAPER = 36


class Interrupted(Exception):
    def __init__(self, signum: int):
        super().__init__(f"signal {signum}")
        self.signum = signum


def _raise_interrupted(signum, _frame):
    raise Interrupted(signum)


def usable_cores() -> int:
    """CPUs this process may use: affinity mask, capped by a cgroup quota."""
    cores = len(os.sched_getaffinity(0))
    try:
        quota, period = Path("/sys/fs/cgroup/cpu.max").read_text().split()
        if quota != "max":
            cores = max(1, min(cores, int(int(quota) // int(period))))
    except (OSError, ValueError):
        pass
    return cores


def meminfo_kb() -> dict[str, int]:
    out = {}
    for line in Path("/proc/meminfo").read_text().splitlines():
        key, _, rest = line.partition(":")
        out[key] = int(rest.split()[0])
    return out


def driver_heap_mb(mem_total_kb: int) -> int:
    """An eighth of RAM, 1-8 GiB: the JVM, Spark's Python workers and the
    parquet barriers share the host's memory, and a heap far above the
    live set only makes the JVM's resident size depend on GC timing."""
    return int(min(8192, max(1024, mem_total_kb // 1024 // 8)))


def _copy_gb_per_s() -> float:
    import numpy as np

    src = np.ones(8 * 1024 * 1024)  # 64 MiB
    dst = np.empty_like(src)
    t0 = time.perf_counter()
    for _ in range(5):
        np.copyto(dst, src)  # releases the GIL: threads copy in parallel
    return 5 * 2 * src.nbytes / (time.perf_counter() - t0) / 1e9


def cpu_jiffies() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal ..."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def host_probe(cores: int) -> dict:
    """Load, free memory and the copy bandwidth of one thread per core."""
    mem = meminfo_kb()
    with ThreadPoolExecutor(cores) as pool:
        per_thread = list(pool.map(lambda _: _copy_gb_per_s(), range(cores)))
    return {
        "cores": cores,
        "loadavg": os.getloadavg(),
        "mem_total_mb": mem["MemTotal"] // 1024,
        "mem_available_mb": mem["MemAvailable"] // 1024,
        "copy_gb_per_s": round(sum(per_thread), 2),
        "copy_threads": cores,
    }


def _read_stat(pid: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of /proc/<pid>/stat: state ppid pgrp
    session ...; rss is the 22nd of them."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.find("(") + 1:stat.rfind(")")], stat[stat.rfind(")") + 2:].split()


def _session_stats(sid: int) -> dict[int, tuple[str, int, int]]:
    """Live (non-zombie) pids of session ``sid`` → (comm, ppid, rss pages)."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        stat = _read_stat(pid)
        if stat is None:
            continue
        comm, fields = stat
        if fields[0] != "Z" and int(fields[3]) == sid:
            out[int(pid)] = (comm, int(fields[1]), int(fields[21]))
    return out


def session_members(sid: int) -> list[int]:
    return list(_session_stats(sid))


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def session_rss(sid: int) -> int:
    """Summed resident bytes of the session. When the JVM starts a process,
    the child is a copy of the JVM until it execs and shows the JVM's whole
    resident size again; such a child is not counted."""
    page = os.sysconf("SC_PAGE_SIZE")
    stats = _session_stats(sid)
    total = 0
    for pid, (_comm, ppid, rss) in stats.items():
        parent = stats.get(ppid)
        if parent is not None and parent[0] == "java" and _exe(pid) == _exe(ppid):
            continue
        total += rss * page
    return total


def reap_children() -> None:
    """Collect exited children, including orphans handed to this subreaper."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


class RssSampler(threading.Thread):
    """Peak of the summed resident memory of a session's processes."""

    def __init__(self, sid: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.sid = sid
        self.interval = interval
        self.peak = 0
        self._stop_event = threading.Event()

    def run(self):
        while not self._stop_event.is_set():
            self.peak = max(self.peak, session_rss(self.sid))
            self._stop_event.wait(self.interval)

    def stop(self):
        self._stop_event.set()
        self.join()


def _wait_empty(sid: int, timeout: float) -> bool:
    deadline = time.monotonic() + timeout
    while True:
        reap_children()
        if not session_members(sid):
            return True
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)


def _signal_all(sid: int, sig: int) -> None:
    for pid in session_members(sid):
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def end_session(sid: int, kill: bool) -> list[int]:
    """Wait until every process of session ``sid`` has exited. With ``kill``
    they get SIGTERM first; whatever outlives the grace period gets SIGKILL.
    Returns the pids still alive after that (normally none)."""
    if kill:
        _signal_all(sid, signal.SIGTERM)
    if not _wait_empty(sid, 5.0 if kill else EXIT_GRACE_S):
        _signal_all(sid, signal.SIGKILL)
        _wait_empty(sid, 5.0)
    return list(session_members(sid))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "toy"), default="full",
                   help="input size; 'toy' is for the smoke test")
    return p.parse_args(argv)


def main(argv=None) -> int:
    t_start = time.monotonic()
    args = parse_args(argv)
    if not (ROOT / "company_name_matching_spark" / "__init__.py").is_file():
        print(f"perfbench: no company_name_matching_spark package under {ROOT}",
              file=sys.stderr)
        return 2

    for signum in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(signum, _raise_interrupted)
    # orphans of the worker (the JVM outlives it for a few seconds) are
    # re-parented here, so they can be waited for
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    cores = usable_cores()
    run_dir = ROOT / ".perfbench" / f"run-{os.getpid()}-{time.time_ns()}"
    for sub in ("tmp", "local"):
        (run_dir / sub).mkdir(parents=True)
    proc = sampler = None
    survivors: list[int] = []
    result = None
    code = 1
    try:
        host = host_probe(cores)
        print(json.dumps({"host": host}), flush=True)
        jiffies = cpu_jiffies()
        env = dict(os.environ)
        env.update(
            PYTHONPATH=os.pathsep.join(
                p for p in (str(ROOT), env.get("PYTHONPATH", "")) if p
            ),
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
            SPARK_GRAFT_CPUS=str(cores),
            SPARK_DRIVER_MEMORY=f"{driver_heap_mb(meminfo_kb()['MemTotal'])}m",
            SPARK_LOCAL_DIRS=str(run_dir / "local"),
            TMPDIR=str(run_dir / "tmp"),
        )
        cmd = [
            sys.executable, str(HERE / "worker.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--size", args.size, "--cores", str(cores), "--run-dir", str(run_dir),
        ]
        proc = subprocess.Popen(cmd, env=env, cwd=ROOT, start_new_session=True)
        sampler = RssSampler(proc.pid)
        sampler.start()
        timeout = DEADLINE_S - (time.monotonic() - t_start)
        try:
            rc = proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            print(f"perfbench: timed out after {DEADLINE_S:.0f} s", file=sys.stderr)
            code = 124
        else:
            result_file = run_dir / "result.json"
            if rc == 0 and result_file.is_file():
                result = json.loads(result_file.read_text())
                code = 0
            else:
                print(f"perfbench: worker exited with {rc}", file=sys.stderr)
    except Interrupted as exc:
        print(f"perfbench: interrupted by {exc}", file=sys.stderr)
        code = 128 + exc.signum
    finally:
        for signum in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(signum, signal.SIG_IGN)
        if proc is not None:
            # after a clean exit the JVM needs a few seconds to follow
            survivors = end_session(proc.pid, kill=code != 0)
            proc.wait()
        if sampler is not None:
            sampler.stop()
        reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            (ROOT / ".perfbench").rmdir()  # only when nothing else is kept there
        except OSError:
            pass
    if survivors:
        print(f"perfbench: processes still alive: {survivors}", file=sys.stderr)
        return 1
    if proc is not None:
        # other guests' CPU share while the run went: the main source of
        # run-to-run spread on a shared host
        print(json.dumps({"host_during_run": {
            "steal_share": round(steal_share(jiffies, cpu_jiffies()), 4),
            "loadavg": os.getloadavg()}}), flush=True)
    if result is None:
        return code
    if args.trace == 0:
        result["metrics"]["peak_rss_mb"] = {
            "value": sampler.peak / (1024 * 1024), "unit": "MB"}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
