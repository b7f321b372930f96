"""Process-tree sampling and layer spans recorded from outside the engine.

``ProcTree`` reads /proc for this process and every descendant (the Spark
JVM and its Python workers), so CPU, RSS and host load can be sampled
periodically through a run.  ``Tracer`` wraps public functions of the
engine's modules in spans; a span can also label the Spark jobs started
inside it (``SparkContext.setJobDescription``) so the event log attributes
executor work to the layer.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_HZ = float(os.sysconf("SC_CLK_TCK"))
KINDS = ("driver", "jvm", "python_workers")
INTERVAL = 0.5  # seconds between Sampler samples


def _read_proc() -> dict[int, tuple[int, str, str, int]]:
    """pid → (ppid, comm, state, cpu ticks incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                raw = fh.read().decode("utf-8", "replace")
        except OSError:  # exited while we listed /proc
            continue
        rp = raw.rindex(")")
        comm = raw[raw.index("(") + 1:rp]
        f = raw[rp + 2:].split()  # f[0] is field 3 (state) of proc(5)
        ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        out[int(name)] = (int(f[1]), comm, f[0], ticks)
    return out


def pss_kb(pid: int) -> int:
    """Proportional set size of ``pid``: its resident pages, each shared page
    divided among the processes that map it, so a forked worker's pages
    shared with its parent are not counted twice.  0 once it has exited."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot; steal is time the
    hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def steal_share(samples: list[dict]) -> float:
    """Share of host CPU time stolen between the first and last sample."""
    if len(samples) < 2:
        return 0.0
    (s0, t0), (s1, t1) = samples[0]["host_ticks"], samples[-1]["host_ticks"]
    return (s1 - s0) / max(t1 - t0, 1)


class ProcTree:
    """CPU seconds (split driver / JVM / Python workers) and PSS of the
    process tree rooted at this process.  A worker that exits is reaped by its
    parent, whose cutime/cstime then carry its CPU, so totals stay monotonic."""

    def __init__(self):
        self.root = os.getpid()
        self.seen: set[int] = set()
        self.last: list[int] = []  # the tree's pids at the last snapshot

    def snapshot(self) -> dict:
        procs = _read_proc()
        kids = defaultdict(list)
        for pid, p in procs.items():
            kids[p[0]].append(pid)
        cpu = dict.fromkeys(KINDS, 0.0)
        last = []
        stack = [self.root]
        while stack:
            pid = stack.pop()
            p = procs.get(pid)
            if p is None:
                continue
            kind = "driver" if pid == self.root else "jvm" if p[1] == "java" else "python_workers"
            cpu[kind] += p[3] / _HZ
            last.append(pid)
            stack.extend(kids[pid])
        self.seen.update(last)
        self.last = last
        return {"t": time.time(), "cpu": cpu, "load1": load1(), "host_ticks": host_ticks()}

    def pss_mb(self) -> float:
        """PSS of the tree as of the last snapshot.  The kernel walks every
        mapping of each process to report it, tens of milliseconds for the
        JVM, so only the sampler reads it."""
        return sum(pss_kb(pid) for pid in self.last) / 1024

    def alive_descendants(self) -> list[int]:
        """Processes of this tree seen so far that still exist (zombies excluded)."""
        procs = _read_proc()
        return [p for p in self.seen if p != self.root and p in procs and procs[p][2] != "Z"]


def cpu_delta(a: dict, b: dict) -> dict[str, float]:
    return {k: b["cpu"][k] - a["cpu"][k] for k in KINDS}


class Sampler:
    """Samples a ProcTree every INTERVAL seconds in a daemon thread; each
    sample is tagged with the run phase current at the time."""

    def __init__(self, tree: ProcTree):
        self.tree = tree
        self.phase = "setup"
        self.samples: list[dict] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="perfbench-sampler", daemon=True)

    def sample(self) -> dict:
        s = self.tree.snapshot()
        s["pss_mb"] = self.tree.pss_mb()
        s["phase"] = self.phase
        return s

    def _loop(self) -> None:
        while not self._stop.wait(INTERVAL):
            self.samples.append(self.sample())

    def start(self) -> "Sampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def in_phase(self, phase: str) -> list[dict]:
        return [s for s in self.samples if s["phase"] == phase]


class Span:
    __slots__ = ("name", "start", "end", "parent", "thread", "cpu")

    def __init__(self, name, parent, thread):
        self.name, self.parent, self.thread = name, parent, thread
        self.start = time.perf_counter()
        self.end = None
        self.cpu = None  # {kind: seconds} over the span when requested


class Tracer:
    """In-memory spans around calls into the engine's layers.

    A span's parent is the innermost open span of its thread; a span opened
    in another thread (the stats scan ``build_index`` runs concurrently with
    its docs write) hangs under the main thread's innermost span and is
    marked concurrent, so it is not subtracted from that parent's self time."""

    def __init__(self, sc=None, tree: ProcTree | None = None):
        self.sc = sc
        self.tree = tree
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._main_stack = self._stack()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, label: bool = False, cpu: bool = False):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sp = Span(name, parent, threading.get_ident())
        if label:
            prev = self.sc.getLocalProperty("spark.job.description")
            self.sc.setJobDescription(name)
        snap = self.tree.snapshot() if cpu else None
        self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            if snap is not None:
                sp.cpu = cpu_delta(snap, self.tree.snapshot())
            sp.end = time.perf_counter()
            if label:
                self.sc.setLocalProperty("spark.job.description", prev)

    def patch(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` by ``make(original)`` until ``unpatch``."""
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make(orig)))
        self._patches.append((owner, attr, orig))

    def wrap(self, owner, attr: str, name: str, label: bool = False, cpu: bool = False,
             after=None) -> None:
        """Span every call of ``owner.attr``; ``after(span, args, result)``
        runs outside the span once the call returns."""

        def make(orig):
            def wrapper(*args, **kwargs):
                with self.span(name, label=label, cpu=cpu) as sp:
                    out = orig(*args, **kwargs)
                if after is not None:
                    after(sp, args, out)
                return out
            return wrapper

        self.patch(owner, attr, make)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def layers(self) -> dict[str, dict]:
        """name → calls, wall_s, self_s, concurrent, cpu.  Self time is the
        span's duration minus the part covered by same-thread children."""
        covered: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None and sp.parent.thread == sp.thread:
                covered[id(sp.parent)] += sp.end - sp.start
        main = threading.main_thread().ident
        out: dict[str, dict] = {}
        for sp in self.spans:
            d = out.setdefault(sp.name, {
                "calls": 0, "wall_s": 0.0, "self_s": 0.0,
                "concurrent": sp.thread != main, "cpu": dict.fromkeys(KINDS, 0.0),
            })
            dur = sp.end - sp.start
            d["calls"] += 1
            d["wall_s"] += dur
            d["self_s"] += dur - covered[id(sp)]
            for k, v in (sp.cpu or {}).items():
                d["cpu"][k] += v
        return out
