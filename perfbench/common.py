"""Shared benchmark plumbing: statistics, spans, process-tree sampling,
box context and the result record every workload fills in."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ------------------------------------------------------------- statistics --

def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty
    sequence; the same definition numpy uses by default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sequence")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def row_medians(passes: list[dict[str, float]]) -> dict[str, float]:
    """Per-key median across passes (each pass maps key -> seconds)."""
    keys = passes[0].keys()
    return {k: median([p[k] for p in passes]) for k in keys}


# ------------------------------------------------------------------ spans --

@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    group: str | None


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one attribute
    check; enabled, it records name, start, end, parent and the id of
    the request / slice / row the span belongs to (``group``)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._next = 0
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            self._next += 1
            sid = self._next
        parent = stack[-1] if stack else None
        if group is None and parent is not None:
            group = parent[1]
        stack.append((sid, group))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    Span(sid, name, start, end, parent[0] if parent else None, group)
                )


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds of each span name not covered by its children (the union
    of child intervals clipped to the parent, so concurrent children
    are not counted twice)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


def span_cost_us(n: int = 2000) -> float:
    """Measured cost of recording one enabled span, in microseconds."""
    t = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n * 1e6


# ----------------------------------------------------------- process tree --

_HZ = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                st = fh.read()
        except OSError:
            continue
        ppid = int(st[st.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_pss_bytes() -> int:
    """Resident memory of the process tree, summed as PSS: pages that
    forked Python workers share with their daemon count once, not once
    per worker as plain RSS sums would."""
    total = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # the process exited between listing and reading
            pass
    return total


def tree_cpu_s() -> float:
    """utime+stime (with reaped children) summed over the live tree."""
    total = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/stat", "rb") as fh:
                st = fh.read()
        except OSError:
            continue
        f = st[st.rindex(b")") + 2 :].split()
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _HZ


class MemSampler:
    """Background sampler of the process tree's resident memory."""

    def __init__(self, period: float = 0.5) -> None:
        self.peak = tree_pss_bytes()
        self._stop = threading.Event()
        self._period = period
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self._period):
            self.peak = max(self.peak, tree_pss_bytes())

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes())


# ------------------------------------------------------------ box context --

def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine from /proc/stat: the share
    of time a hypervisor gave its CPUs to someone else."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def git_sha() -> str | None:
    """HEAD of the checkout, when it is a git working tree itself."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=5,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def source_sha() -> str:
    """Digest of the engine's and the benchmark's Python sources: names
    the code a record came from, also in a checkout without ``.git``."""
    h = hashlib.sha1()
    for top in ("riemann_spark", "perfbench"):
        for d, subdirs, files in os.walk(os.path.join(ROOT, top)):
            subdirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def box_context() -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "git_sha": git_sha(),
        "source_sha": source_sha(),
    }


# ----------------------------------------------------------------- result --

@dataclass
class Result:
    """What one workload run reports. ``end_to_end`` and ``layers`` map
    metric name -> value (units live in ``BENCHMARK.json``); ``detail``
    holds everything else."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    end_to_end: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str, n: int = 1) -> None:
        """Count ``n`` attempted operations; all fail if ``ok`` is false."""
        self.count(n, 0 if ok else n, what)

    def count(self, attempted: int, failed: int, what: str) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed and len(self.problems) < 20:
            self.problems.append(what)

    def e2e(self, name: str, value: float) -> None:
        self.end_to_end[name] = float(value)

    def layer(self, name: str, value: float) -> None:
        self.layers[name] = float(value)
