"""Shared plumbing: checkout paths, the Spark environment, process-tree
CPU/RSS accounting, hashing and the steal probe.

Everything the benchmark writes goes under ``<checkout>/.bench_work``:
inputs, job outputs, Spark scratch, JVM temp files and event logs.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import re
import resource
import shlex
import signal
import statistics
import sys
import threading
import time

import numpy as np

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".bench_work")

_CLK = os.sysconf("SC_CLK_TCK")
# RssSampler's period.  A sample reads every process's smaps_rollup,
# ~22 ms of CPU with a 2 GB JVM in the tree; at 10 Hz that is 7-9% of
# the cpu_core_s the sampler sits inside.
RSS_PERIOD_S = 1.0
REAP_TIMEOUT_S = 60.0  # reap_all's wait before it terminates stragglers


def cores() -> int:
    """Spark local[N]: the visible cores, at most 4."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def work(*parts: str) -> str:
    p = os.path.join(WORK, *parts)
    os.makedirs(p, exist_ok=True)
    return p


def submit_args(event_log_dir: str | None = None) -> str:
    """PYSPARK_SUBMIT_ARGS keeping the JVM's temp files in the checkout,
    plus the plain-JSON event log when ``event_log_dir`` is given."""
    tmp = work("tmp")
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    parts = ["--driver-java-options", java,
             "--conf", f"spark.local.dir={work('spark-local')}"]
    if event_log_dir:
        parts += ["--conf", "spark.eventLog.enabled=true",
                  "--conf", "spark.eventLog.compress=false",
                  "--conf", "spark.eventLog.rolling.enabled=false",
                  "--conf", f"spark.eventLog.dir={event_log_dir}"]
    return " ".join(shlex.quote(p) for p in parts) + " pyspark-shell"


def setup_env() -> None:
    """Point every temp/scratch location at the work dir, make the
    program importable, and adopt orphaned descendants (see reap_all)."""
    os.environ["TMPDIR"] = work("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = work("spark-local")
    os.environ["SJCS_CHECKPOINT_DIR"] = work("ckpt")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit_args()
    os.environ.setdefault("PYTHONHASHSEED", "0")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # PR_SET_CHILD_SUBREAPER: a JVM or Python worker whose parent exits
    # is re-parented to this process, so it can be waited for and its
    # CPU time lands in RUSAGE_CHILDREN
    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
    except (OSError, AttributeError):
        return
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    prctl(36, 1, 0, 0, 0)


# ---------------------------------------------------------------- /proc


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rfind(")") + 2:].split()  # fields from `state` on


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                kids.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process, its reaped descendants
    and every live descendant (each live one with its own reaped
    children).  Every process is counted exactly once."""
    me = resource.getrusage(resource.RUSAGE_SELF)
    ch = resource.getrusage(resource.RUSAGE_CHILDREN)
    total = me.ru_utime + me.ru_stime + ch.ru_utime + ch.ru_stime
    for pid in descendants():
        st = _stat(pid)
        if st:  # utime stime cutime cstime = fields 14..17 (1-based)
            total += sum(int(v) for v in st[11:15]) / _CLK
    return total


def tree_rss_mb() -> float:
    """Resident memory of the process tree, pages shared between its
    processes (forked Python workers) counted once: the summed PSS."""
    total_kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total_kb / 1024.0


class RssSampler:
    """Background peak of the process tree's summed resident memory."""

    def __init__(self):
        self.peak = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop.wait(RSS_PERIOD_S)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self.peak = max(self.peak, tree_rss_mb())


def reap_all() -> None:
    """Wait until every descendant has ended; terminate stragglers."""
    deadline = time.monotonic() + REAP_TIMEOUT_S
    sig = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


# --------------------------------------------------------------- values


class Run:
    """Operations attempted and failed in one run, with a note for each
    failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def op(self, ok: bool, note: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(note)
        return ok


def frame_hash(df) -> str:
    """Order-independent hash of a pandas frame: columns by name, rows
    sorted, values as int64 where integral."""
    cols = sorted(df.columns)
    d = df[cols].sort_values(cols).reset_index(drop=True)
    h = hashlib.sha256(",".join(cols).encode())
    for c in cols:
        v = d[c].to_numpy()
        if v.dtype.kind in "iub":
            h.update(v.astype(np.int64).tobytes())
        else:
            h.update("\x00".join(map(str, v)).encode())
    return h.hexdigest()[:16]


def arrays_hash(*arrays) -> str:
    h = hashlib.sha256()
    for a in arrays:
        a = np.ascontiguousarray(a)
        h.update(str(a.dtype).encode() + str(a.shape).encode())
        h.update(a.tobytes())
    return h.hexdigest()[:16]


def error_line(text: str) -> str:
    """The last ``SomethingError: message`` line of a log or traceback."""
    found = re.findall(r"\w+(?:Error|Exception): [^\n]*", text)
    return found[-1][:300] if found else text.strip()[-300:]


def median(xs) -> float:
    return float(statistics.median(xs))


def steal_probe() -> float:
    """The fixed single-thread numpy workload of bench.py's
    ``_steal_probe``, timed: its reading says which hypervisor-steal
    regime a run landed in (quiet ~1 s, stolen 2-5x slower)."""
    a = np.arange(4_000_000, dtype=np.float64) * 1e-7
    b = np.zeros_like(a)
    t0 = time.perf_counter()
    for _ in range(30):
        b = np.sqrt(a * a + b) * 0.5
    return time.perf_counter() - t0
