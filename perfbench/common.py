"""Shared pieces of the benchmark: the pinned run environment, the span
tracer, process-tree accounting from /proc and small statistics.

Spans are recorded only by the benchmark's own code, around its calls
into the package's modules (directly, or by wrapping a module
attribute for the length of a traced phase). The package itself is
never changed.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "master_airflow_spark"


# ------------------------------------------------------------ environment

def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of the box's RAM, between 1 and 2 GiB: below the
    package's 16g default, which would overcommit small boxes."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1024, min(2048, kb // 1024 // 4))}m"


def pin_environment(work: str, eventlog: bool) -> None:
    """Point every knob the package reads at this run: core count,
    driver heap, import path for Python workers, and warehouse, local,
    temp and stream-scratch directories inside ``work``. Must run
    before the package or pyspark is imported."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse", "scratch", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "SPARK_GRAFT_WAREHOUSE": dirs["warehouse"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        "MAS_STREAM_SCRATCH_DIR": dirs["scratch"],
        "MAS_CC_SCRATCH_DIR": dirs["scratch"],
        # every JVM, including spark-submit's launcher: temp files in
        # the run directory, no /tmp/hsperfdata_* files
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    for k in ("SPARK_GRAFT_UI", "SPARK_GRAFT_EVENTLOG_DIR", "SPARK_GRAFT_MAX_FILES_PER_TRIGGER"):
        os.environ.pop(k, None)
    if eventlog:
        env["SPARK_GRAFT_EVENTLOG_DIR"] = dirs["eventlog"]
    os.environ.update(env)


def spark_conf() -> dict[str, str]:
    """Extra session conf: a quiet console, and the event log of traced
    runs as one plain file per application for eventlog.py (Spark 4
    defaults to zstd-compressed rolling parts)."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def start_spark():
    from master_airflow_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=spark_conf())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def make_work_dir() -> str:
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def remove_work_dir(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    with contextlib.suppress(OSError):
        os.rmdir(os.path.dirname(work))  # only if no other run is using it


# ----------------------------------------------------------------- tracer

class Tracer:
    """In-memory span recorder. A span is (id, layer, name, op, parent,
    start, end) with CLOCK_MONOTONIC times, so spans recorded in a
    child process join the same timeline. Disabled, ``span`` records
    nothing."""

    def __init__(self, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._prefix = f"{os.getpid()}-"
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def new_id(self) -> str:
        return self._prefix + str(next(self._ids))

    @contextlib.contextmanager
    def span(self, layer: str, name: str, op=None, parent: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if stack:
            parent = parent or stack[-1]["id"]
            op = stack[-1]["op"] if op is None else op
        rec = {"id": self.new_id(), "layer": layer, "name": name, "op": op,
               "parent": parent, "start": time.monotonic()}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            stack.pop()
            self.spans.append(rec)

    def wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*a, **k):
            with self.span(layer, name):
                return fn(*a, **k)

        return traced


class Patches:
    """Wrap module attributes of the package with tracer spans for the
    length of a traced phase; ``restore`` puts the originals back."""

    def __init__(self) -> None:
        self._saved: list[tuple] = []

    def wrap_everywhere(self, tracer: Tracer, original, layer: str, name: str) -> None:
        """Replace ``original`` in every loaded package module that
        bound it (``from x import f`` copies the reference)."""
        wrapped = tracer.wrap(layer, name, original)
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(PACKAGE) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self._saved.append((mod, attr, val))
                    setattr(mod, attr, wrapped)

    def restore(self) -> None:
        while self._saved:
            mod, attr, val = self._saved.pop()
            setattr(mod, attr, val)


def _covered(lo: float, hi: float, ivs: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in ivs):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]):
    """Per-layer self time (span duration minus the part its children
    cover) summed over every operation tree, i.e. every ``bench/op``
    span without a parent. Returns (layer -> seconds, summed operation
    wall seconds, number of operations)."""
    by_id = {s["id"]: s for s in spans}
    kids: dict[str, list] = defaultdict(list)
    for s in spans:
        if s["parent"] in by_id:
            kids[s["parent"]].append(s)
    out: dict[str, float] = defaultdict(float)
    wall, n = 0.0, 0
    todo = [s for s in spans if s["layer"] == "bench" and s["name"] == "op"
            and s["parent"] not in by_id]
    for root in todo:
        wall += root["end"] - root["start"]
        n += 1
        stack = [root]
        while stack:
            s = stack.pop()
            ch = kids.get(s["id"], [])
            lo, hi = s["start"], s["end"]
            out[s["layer"]] += (hi - lo) - _covered(lo, hi, [(c["start"], c["end"]) for c in ch])
            stack.extend(ch)
    return dict(out), wall, n


def span_total(spans: list[dict], layer: str, name: str) -> tuple[float, int]:
    ds = [s["end"] - s["start"] for s in spans if s["layer"] == layer and s["name"] == name]
    return sum(ds), len(ds)


# ------------------------------------------------------- process tree /proc

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state (field 3); ppid is field 4, utime..cstime 14-17
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_pids(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                parent[int(name)] = _stat(int(name))[0]
            except (OSError, ValueError, IndexError):
                pass
    out, frontier = [root], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _pss(pid: int) -> int:
    """Proportional set size in bytes: pages shared between processes
    (Spark's forked Python workers) are split between them, so the sum
    over a tree is the memory the tree really holds."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_usage(root: int, memory: bool = False) -> tuple[float, int]:
    """(CPU seconds incl. reaped children, PSS bytes if ``memory``) of
    a process tree."""
    cpu, mem = 0, 0
    for pid in tree_pids(root):
        try:
            cpu += _stat(pid)[1]
            if memory:
                mem += _pss(pid)
        except (OSError, ValueError, IndexError):
            continue
    return cpu / _CLK, mem


class TreeMonitor:
    """Samples the benchmark's process tree every ``period`` seconds on
    a thread: peak PSS over the run, CPU between marks."""

    def __init__(self, period: float = 0.1) -> None:
        self.peak_mem = 0
        self._period = period
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            _, mem = tree_usage(os.getpid(), memory=True)
            self.peak_mem = max(self.peak_mem, mem)
            self._stop.wait(self._period)

    def __enter__(self) -> "TreeMonitor":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @staticmethod
    def cpu_seconds() -> float:
        return tree_usage(os.getpid())[0]


def become_subreaper() -> None:
    """Have orphaned descendants (Spark's Python workers outliving their
    JVM) reparented to this process, so ``reap_descendants`` can wait
    for them."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def reap_descendants(grace: float = 30.0) -> None:
    """Wait until every descendant process has exited, killing what is
    left after ``grace`` seconds."""
    import signal

    me = os.getpid()
    deadline = time.monotonic() + grace
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        left = [p for p in tree_pids(me) if p != me]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.05)


# ------------------------------------------------------------- statistics

def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    f = int(k)
    c = min(f + 1, len(xs) - 1)
    return xs[f] + (xs[c] - xs[f]) * (k - f)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def log(*a) -> None:
    print("#", *a, file=sys.stderr, flush=True)


def layer_metrics(spans: list[dict]) -> dict[str, float]:
    """Self time per operation for each layer, and the share of the
    operations' wall time the package's layers account for (the rest
    is the benchmark's own harness time, layer ``bench``)."""
    from metrics import LAYERS

    selfs, wall, n = self_times(spans)
    vals = {f"layer.{l}.self_ms_per_op": 1000 * selfs.get(l, 0.0) / max(1, n) for l in LAYERS}
    pkg = sum(v for l, v in selfs.items() if l != "bench")
    vals["trace.accounted_pct"] = 100.0 * pkg / wall if wall else 0.0
    return vals


def spark_metrics(groups: dict[str, dict], ops: list[str]) -> dict[str, float]:
    import eventlog

    m = eventlog.per_op(groups, ops)
    return {
        "spark.jobs_per_op": m["jobs"],
        "spark.exec_cpu_ms_per_op": 1000 * m["cpu_s"],
        "spark.shuffle_write_bytes_per_op": m["shuffle_write_bytes"],
        "spark.spill_bytes_per_op": m["spill_bytes"],
        "spark.job_gap_ms_per_op": 1000 * m["job_gap_s"],
    }
