"""Outside-in measurement: a ``/proc`` sampler for the Spark process
tree, in-memory spans, and the percentile rule.

The sampler needs no dependency beyond the standard library. It watches
every descendant of the benchmark process: the driver JVM that PySpark
launches and the Python workers the JVM forks.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass
class ProcStat:
    pid: int
    ppid: int
    comm: str
    cpu_s: float  # user + system time
    rss_bytes: int


def parse_stat(pid: int, text: str) -> ProcStat:
    """Parse one ``/proc/<pid>/stat`` line. ``comm`` sits in parentheses
    and may itself hold spaces or parentheses, so split at the last ')'."""
    head, _, rest = text.rpartition(")")
    comm = head.partition("(")[2]
    f = rest.split()
    # f[0] is field 3 (state): ppid is field 4, utime 14, stime 15, rss 24
    return ProcStat(
        pid=pid,
        ppid=int(f[1]),
        comm=comm,
        cpu_s=(int(f[11]) + int(f[12])) / _CLK_TCK,
        rss_bytes=int(f[21]) * _PAGE,
    )


def parse_io(text: str) -> tuple[int, int]:
    """``(rchar, wchar)`` from ``/proc/<pid>/io``."""
    vals = {}
    for line in text.splitlines():
        key, _, val = line.partition(":")
        vals[key.strip()] = val.strip()
    return int(vals.get("rchar", 0)), int(vals.get("wchar", 0))


def parse_cpu_line(text: str) -> tuple[int, int]:
    """``(all ticks, steal ticks)`` from the ``cpu`` line of ``/proc/stat``:
    user, nice, system, idle, iowait, irq, softirq and steal, summed over
    every CPU. Steal is the time the hypervisor ran something else while
    a virtual CPU of this machine had work."""
    f = [int(x) for x in text.split()[1:9]]
    return sum(f), f[7]


# A virtual CPU that has work can still wait while the hypervisor runs
# other guests; /proc/stat counts that wait as steal. A Spark job that
# keeps four cores busy stretches by more than 1 / (1 - steal): every
# stage waits for its slowest task, and a JVM safepoint for its slowest
# thread. On 4-vCPU guests whose steal moved between 3% and 34% within an
# hour, the quartile spread of per-run median job times over seeds was
# 40% unscaled and 18% scaled by (1 - steal) in three-seed trials, and
# 4-14% over ten seeds scaled by (1 - steal)**2.
STEAL_EXPONENT = 2


def host_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        return parse_cpu_line(f.readline())


class NetTimer:
    """Times a block: ``wall`` seconds, ``steal``, the share of this
    machine's CPU time the hypervisor gave to other guests meanwhile, and
    ``seconds``, the wall-clock normalised to a host without steal,
    ``wall * (1 - steal) ** STEAL_EXPONENT``."""

    def __enter__(self) -> "NetTimer":
        self._ticks = host_ticks()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        total, steal = (b - a for a, b in zip(self._ticks, host_ticks()))
        self.steal = steal / total if total > 0 else 0.0
        self.seconds = self.wall * (1 - self.steal) ** STEAL_EXPONENT


# The host also slows down without steal: with none at all, the same job
# took 0.45 s in one minute and 0.75 s a few minutes later, most likely
# because other guests shared the physical cores. A fixed calibration
# load, run just before every timed operation, slows down with it. Over
# five minutes in which job times drifted by 1.6x, the medians of 40 s
# windows correlated with the calibration medians at 0.97 (jobs) and 0.88
# (resumes), and dividing by them cut their quartile spread from 17% to
# 5% and from 23% to 14%. In a quieter trace, with job times steady to
# about 10%, the division widened the spread of 8-job windows instead.
CAL_THREADS = 4  # as many as the Spark job's cores
CAL_ROUNDS = 6
CAL_REF_S = 0.025  # calibration time on a quiet host
_CAL_BUF = bytes(range(256)) * (1 << 14)  # 4 MiB


def _hash_rounds() -> None:
    for _ in range(CAL_ROUNDS):
        hashlib.sha256(_CAL_BUF).digest()


def calibration_s() -> float:
    """Seconds, net of steal, that ``CAL_THREADS`` threads take to hash a
    fixed buffer ``CAL_ROUNDS`` times each. ``hashlib`` releases the GIL
    on large buffers, so the threads run in parallel."""
    threads = [threading.Thread(target=_hash_rounds) for _ in range(CAL_THREADS)]
    with NetTimer() as t:
        for th in threads:
            th.start()
        for th in threads:
            th.join()
    return t.seconds


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process exited between listing and reading
        return None


def descendants(root: int, proc: str = "/proc") -> dict[int, ProcStat]:
    """Every live descendant of ``root`` (not ``root`` itself)."""
    stats: dict[int, ProcStat] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        text = _read(f"{proc}/{name}/stat")
        if text:
            stats[int(name)] = parse_stat(int(name), text)
    children: dict[int, list[int]] = {}
    for st in stats.values():
        children.setdefault(st.ppid, []).append(st.pid)
    out: dict[int, ProcStat] = {}
    stack = list(children.get(root, []))
    while stack:
        pid = stack.pop()
        out[pid] = stats[pid]
        stack.extend(children.get(pid, []))
    return out


def is_python(st: ProcStat) -> bool:
    return st.comm.startswith("python")


def is_counted(st: ProcStat, root: int) -> bool:
    """The JVM (the benchmark's own child) and every Python process below
    it: the PySpark daemon and its workers. Other children of the JVM are
    short-lived helpers (Hadoop's local file system runs ``chmod`` when
    the native library is missing). Caught between their fork and
    ``exec``, they share the JVM's pages and report its whole RSS, which
    would double the JVM in the sum."""
    return st.ppid == root or is_python(st)


@dataclass
class Totals:
    """Cumulative counters of the process tree since the sampler started.
    CPU and I/O of a process count from its first sample on."""

    tree_cpu_s: float = 0.0
    py_cpu_s: float = 0.0
    py_rchar: int = 0
    py_wchar: int = 0

    def minus(self, other: "Totals") -> "Totals":
        return Totals(
            self.tree_cpu_s - other.tree_cpu_s,
            self.py_cpu_s - other.py_cpu_s,
            self.py_rchar - other.py_rchar,
            self.py_wchar - other.py_wchar,
        )


class TreeSampler:
    """Samples the benchmark's descendant processes every ``period``
    seconds on a background thread. ``mark()`` takes a synchronous
    sample and returns the running totals, so a caller brackets a job
    with two marks; ``reset_peaks()`` starts a new peak-RSS window."""

    def __init__(self, root: int | None = None, period: float = 0.1):
        self.root = root or os.getpid()
        self.period = period
        self._lock = threading.Lock()
        self._last: dict[int, tuple[float, int, int]] = {}
        self._totals = Totals()
        self.peak_tree_rss = 0
        self.peak_py_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        procs = descendants(self.root)
        tree_rss = py_rss = 0
        with self._lock:
            seen: dict[int, tuple[float, int, int]] = {}
            for pid, st in procs.items():
                if not is_counted(st, self.root):
                    continue
                rchar = wchar = 0
                if is_python(st):
                    io_text = _read(f"/proc/{pid}/io")
                    if io_text:
                        rchar, wchar = parse_io(io_text)
                    py_rss += st.rss_bytes
                tree_rss += st.rss_bytes
                cpu0, r0, w0 = self._last.get(pid, (st.cpu_s, rchar, wchar))
                self._totals.tree_cpu_s += st.cpu_s - cpu0
                if is_python(st):
                    self._totals.py_cpu_s += st.cpu_s - cpu0
                    self._totals.py_rchar += rchar - r0
                    self._totals.py_wchar += wchar - w0
                seen[pid] = (st.cpu_s, rchar, wchar)
            self._last = seen
            self.peak_tree_rss = max(self.peak_tree_rss, tree_rss)
            self.peak_py_rss = max(self.peak_py_rss, py_rss)

    def mark(self) -> Totals:
        self.sample()
        with self._lock:
            return Totals(**vars(self._totals))

    def reset_peaks(self) -> None:
        with self._lock:
            self.peak_tree_rss = self.peak_py_rss = 0

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self) -> "TreeSampler":
        self._thread = threading.Thread(target=self._loop, name="proc-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


# ------------------------------------------------------------------ spans

LAYERS = ("operators.salting", "extractors", "checkpoint", "pipeline", "session", "plans")


def layer_of(name: str) -> str:
    for layer in LAYERS:
        if name == layer or name.startswith(layer + "."):
            return layer
    return "bench"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """In-memory spans, written out once when the run ends. A disabled
    tracer records nothing and costs one attribute test per span."""

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str):
        return _SpanCtx(self, name)

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part of it
        covered by its direct children (children never overlap, since
        spans nest on one thread)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_s[s.parent] = child_s.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            layer = layer_of(s.name)
            out[layer] = out.get(layer, 0.0) + (s.end - s.start) - child_s.get(s.id, 0.0)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([vars(s) for s in self.spans], f)


class _SpanCtx:
    __slots__ = ("tracer", "name", "span")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            parent = t._stack[-1] if t._stack else None
            self.span = Span(len(t.spans), self.name, parent, time.perf_counter())
            t.spans.append(self.span)
            t._stack.append(self.span.id)
        return self

    def __exit__(self, *exc):
        if self.tracer.enabled:
            self.span.end = time.perf_counter()
            self.tracer._stack.pop()


# ------------------------------------------------------------- statistics

TAIL_PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """``(p, value)`` for the highest percentile above the median with at
    least ten samples beyond it, or None when there are too few samples.
    ``value`` is the nearest-rank percentile."""
    xs = sorted(samples)
    best = None
    for p in TAIL_PERCENTILES[1:]:
        rank = max(1, -(-len(xs) * p // 100))  # nearest rank, 1-based
        if len(xs) - int(rank) >= 10:
            best = (p, xs[int(rank) - 1])
    return best
