"""Spans, process-tree memory sampling and Spark event-log totals.

Spans are recorded around calls into the engine's public functions from
the benchmark's own code. They stay in memory and are written out once,
when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span in Tracer.spans
    run_id: str

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``span`` nests: a span opened inside
    another records it as its parent."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), float("nan"), parent, self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def dump(self, path: str, layers: dict[str, float]) -> None:
        """Write the spans, each span name's summed self time and the
        per-layer metrics to ``path`` as JSON."""
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [asdict(s) for s in self.spans],
                    "self_times": self_times(self.spans),
                    "layers": layers,
                },
                f,
                indent=1,
            )


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name, the summed duration minus the part of each span's
    interval that its direct children cover (children may overlap)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(i, []), key=lambda c: c.start):
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
        out[s.name] = out.get(s.name, 0.0) + s.dur - covered
    return out


# ------------------------------------------------------------ memory


def _children() -> dict[int, list[int]]:
    """Child pids by parent pid, for every process in /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue  # the process exited while we listed
        children.setdefault(ppid, []).append(int(d))
    return children


def tree_pids(root: int) -> list[int]:
    """Every descendant pid of ``root``."""
    children = _children()
    out, todo = [], list(children.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _rss_kb(pid: int) -> int:
    """Resident set size from ``statm``: a counter read, no page walk."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_KB
    except OSError:
        return 0  # the process exited


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it (forked Python workers share most of
    theirs), so a sum over processes counts every page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass  # the process exited
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""  # the process exited


def _tree_kb(root: int) -> int:
    """Resident memory of ``root`` and its descendants. ``root`` and the
    JVM it launched (its child) count their RSS: they share no pages with
    the rest, and ``smaps_rollup`` would walk the page tables of the JVM's
    whole heap under its memory-map lock, tens of milliseconds per sample
    that stall the JVM being measured. The JVM's Python descendants (the
    daemon and the workers it forks) count their PSS, so pages they share
    count once. Its other descendants are short-lived helpers: until one
    execs, it shares the JVM's memory, so it counts nothing."""
    children = _children()
    total = _rss_kb(root)
    for jvm in children.get(root, []):
        total += _rss_kb(jvm)
        todo = list(children.get(jvm, []))
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            if _comm(pid).startswith("python"):
                total += _pss_kb(pid)
    return total


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the machine since boot."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


class RssSampler:
    """Background thread sampling the resident memory of this process tree
    (driver JVM, Python driver, Python workers; see ``_tree_kb``) every
    ``period`` seconds."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_kb(me))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


# ---------------------------------------------------------- event log

_PY_TIME = "time to run Python workers"


def event_log_totals(log_dir: str, t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Shuffle write bytes, spill bytes and Python worker seconds summed
    over the tasks that ran inside ``[t0_ms, t1_ms]`` (epoch ms), read
    from the uncompressed event log(s) under ``log_dir``."""
    shuffle = spill = py_ms = 0.0
    for path in sorted(Path(log_dir).rglob("*")):
        if not path.is_file() or path.name.startswith("."):
            continue
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info = ev.get("Task Info") or {}
                if info.get("Launch Time", 0) < t0_ms or info.get("Finish Time", 0) > t1_ms:
                    continue
                m = ev.get("Task Metrics") or {}
                shuffle += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") == _PY_TIME:
                        py_ms += float(acc.get("Update", 0))
    return {
        "exchange.shuffle_write_bytes": shuffle,
        "exchange.spill_bytes": spill,
        "python.worker_s": py_ms / 1000.0,
    }
