"""Crawl-engine benchmark: one workload run, guarded by a wall-clock limit.

    python3 perfbench/run.py --workload crawl_deep --seed 1 --seconds 20 --trace 0

Run from the repository root. The workload itself runs in a child process
(``perfbench/engine.py``) so that this process can

* sample the memory of the child's whole process tree (driver, JVM, Python
  workers) for ``peak_rss_mb``;
* stop a run that hangs: at the limit it saves a JVM thread dump under
  ``.perfbench/`` (the child's stdout, where the JVM prints it), kills the
  process tree, and reports the run as a failed operation instead of
  waiting forever;
* stop and wait for every process the run started.

The last line of stdout is the result object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` its per-layer metrics (see perfbench/METRICS.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
PACKAGE = "xrpl_rich_list_py_crawler_spark"
WORKLOADS = ("crawl_deep", "analytics_refresh")
#: every run must end well inside the 180 s a run is allowed
RUN_LIMIT_S = 170.0
PAGE = os.sysconf("SC_PAGE_SIZE")


def _session_pids(sid: int) -> list[int]:
    """Live processes whose session id is ``sid``: the child and everything
    it started (the JVM and the Python workers keep the session even when
    they open a process group of their own)."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # state and session (fields 3 and 6) follow the parenthesised
        # command; a zombie has ended and only waits for its parent
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def _mem_bytes(pids: list[int]) -> int:
    """Resident memory of a process tree: the proportional set size (PSS)
    of each Python process, so that pages the forked workers share count
    once in total, plus the RSS of the JVM, which shares nothing and whose
    PSS costs ~25 ms of kernel time per read."""
    total = 0
    for pid in pids:
        try:
            if _is_java(pid):
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * PAGE
                continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def _is_java(pid: int) -> bool:
    with open(f"/proc/{pid}/cmdline", "rb") as f:
        return os.path.basename(f.read().split(b"\0")[0]) == b"java"


class MemorySampler(threading.Thread):
    """Samples the memory of one process session every ``interval`` s."""

    def __init__(self, sid: int, interval: float = 0.25):
        super().__init__(daemon=True)
        self.sid = sid
        self.interval = interval
        self.samples: list[tuple[float, int]] = []
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.samples.append(
                (time.time(), _mem_bytes(_session_pids(self.sid)))
            )
            self._stop_event.wait(self.interval)

    def stop(self) -> None:
        self._stop_event.set()
        self.join()

    def peak_mb(self, t0: float, t1: float) -> float:
        window = [b for t, b in self.samples if t0 <= t <= t1]
        return max(window or [b for _, b in self.samples] or [0]) / 2**20


def _kill_session(sid: int, timeout: float = 15.0) -> None:
    """SIGKILL every process left in the session and wait until all are
    gone."""
    deadline = time.time() + timeout
    while True:
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if time.time() > deadline:
            raise RuntimeError(f"processes {pids} survived SIGKILL")
        time.sleep(0.1)


def _thread_dump(sid: int) -> None:
    """SIGQUIT every JVM of the session: HotSpot prints its thread dump,
    with any Java-level deadlock it finds, to stdout. (jstack would write
    attach files to /tmp.)"""
    for pid in _session_pids(sid):
        try:
            if _is_java(pid):
                os.kill(pid, signal.SIGQUIT)
        except OSError:
            pass
    time.sleep(3)


def run_child(args) -> dict:
    """Run one workload in a child process under the hang guard."""
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(STATE, "work", run_id)
    os.makedirs(work, exist_ok=True)
    result_path = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "engine.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", result_path,
    ]
    stdout_path = os.path.join(work, "stdout.txt")
    with open(stdout_path, "w") as stdout:
        child = subprocess.Popen(
            cmd, cwd=work, stdout=stdout, stderr=sys.stderr,
            start_new_session=True,
        )
    sampler = MemorySampler(child.pid)
    sampler.start()
    hung = False
    try:
        child.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        hung = True
        _thread_dump(child.pid)
        dump = os.path.join(STATE, f"hang-{run_id}.txt")
        shutil.copy(stdout_path, dump)
        print(f"perfbench: {run_id} hit the {RUN_LIMIT_S:.0f} s limit; "
              f"JVM thread dump in {dump}", file=sys.stderr)
    finally:
        sampler.stop()
        _kill_session(child.pid)
        child.wait()
    res = None
    if not hung and os.path.exists(result_path):
        with open(result_path) as f:
            res = json.load(f)
    if res is None:
        why = "hang" if hung else f"exit code {child.returncode}"
        res = {"correct": False, "attempted": 1, "failed": 1,
               "metrics": {}, "error": why}
    else:
        w0, w1 = res.pop("window", (0.0, float("inf")))
        res["metrics"]["peak_rss_mb"] = round(sampler.peak_mb(w0, w1), 3)
    shutil.rmtree(work, ignore_errors=True)
    return res


def _untraced_record(workload: str) -> str:
    return os.path.join(STATE, f"untraced-{workload}.json")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/ — run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    os.makedirs(STATE, exist_ok=True)
    from layers import END_TO_END, PER_LAYER

    record = _untraced_record(args.workload)
    res = run_child(args)
    if not args.trace and not res["failed"]:
        _append_record(record, res["metrics"]["op_s_p50"])
    if args.trace and "op_s_p50" in res["metrics"]:
        # overhead: traced minus untraced op time of this checkout. A
        # traced run is too long to also make its own untraced run within
        # the time a run is allowed, so without a record it reads 0.
        if os.path.exists(record):
            with open(record) as f:
                base_op = statistics.median(json.load(f))
            res["metrics"]["trace.overhead_s"] = (
                res["metrics"]["op_s_p50"] - base_op)
        else:
            print("perfbench: no untraced run recorded in this checkout; "
                  "trace.overhead_s reads 0", file=sys.stderr)
    return _emit(res, PER_LAYER if args.trace else END_TO_END)


def _append_record(path: str, op_s: float) -> None:
    vals = []
    if os.path.exists(path):
        with open(path) as f:
            vals = json.load(f)
    with open(path, "w") as f:
        json.dump(vals + [op_s], f)


def _emit(res: dict, names: dict) -> int:
    """Print the result object with exactly the metrics in ``names``
    (name -> unit); a metric a failed run never measured reads 0."""
    got = res["metrics"]
    out = {
        "correct": bool(res["correct"]) and not res["failed"],
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {
            n: {"value": float(got.get(n, 0.0)), "unit": u}
            for n, u in names.items()
        },
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    raise SystemExit(main())
