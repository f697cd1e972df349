"""Measurement helpers shared by the workloads: percentiles, operation
accounting, spans, memory and machine-load sampling."""

from __future__ import annotations

import math
import os
import threading
import time
from contextlib import contextmanager

# A p90 needs at least this many samples (ten beyond it).
P90_MIN_SAMPLES = 100


def nearest_rank(values, q: float) -> float:
    """Nearest-rank percentile: the ceil(q*n)-th smallest sample."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def geomean(values) -> float:
    """Geometric mean of the positive values (0 when there are none: a
    series without samples has already been counted as a failure)."""
    logs = [math.log(v) for v in values if v > 0]
    return math.exp(sum(logs) / len(logs)) if logs else 0.0


class Ops:
    """Operations attempted and failed in one run. A failure is an
    exception or a wrong answer; each keeps a one-line reason."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []
        self._lock = threading.Lock()

    def fail(self, reason: str) -> None:
        with self._lock:
            self.failed += 1
            if len(self.reasons) < 50:
                self.reasons.append(reason[:300])

    def add(self, n: int) -> None:
        """Count ``n`` operations that ran outside ``attempt`` (the
        stream's micro-batches); a failure among them is counted with
        ``fail``."""
        with self._lock:
            self.attempted += n

    @contextmanager
    def attempt(self, what: str):
        """Count one operation; an exception inside is counted as a
        failure with its message and not raised further."""
        with self._lock:
            self.attempted += 1
        try:
            yield
        except Exception as e:  # every failure is counted, none is fatal
            self.fail(f"{what}: {type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}")

    def percentile(self, values, q: float, what: str) -> float:
        """Nearest-rank percentile; a p90 (or higher) over fewer than
        P90_MIN_SAMPLES samples is counted as a failed check."""
        if q >= 0.9 and len(values) < P90_MIN_SAMPLES:
            self.fail(f"{what}: p{round(q * 100)} from {len(values)} samples")
        if not values:
            self.fail(f"{what}: no samples")
            return 0.0
        return nearest_rank(values, q)


class Tracer:
    """Spans kept in memory: name, layer, operation id, start, end and
    the enclosing span of the same thread. Disabled, it records
    nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            self.spans.append(None)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            stack.pop()
            self.spans[sid] = {
                "id": sid, "name": name, "layer": layer, "op": op,
                "parent": parent, "start": start, "end": time.time(),
            }


def proc_start_epoch() -> float:
    """Wall-clock start time of this process, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, ValueError, IndexError):
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class PeakRss:
    """Samples the summed RSS of this process and all its descendants
    (the JVM and its Python workers) on a background thread."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.peak = 0
        self.at_peak: dict[str, int] = {}  # "<pid> <command>" -> bytes
        self.pids: set[int] = set()
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        pids = descendants(os.getpid())
        self.pids.update(pids)
        # Only the Python processes and the JVM: a child the JVM is
        # spawning shares the JVM's pages until it execs, and would
        # count them twice.
        rss = {p: rss_bytes(p) for p in pids if _comm(p).startswith(("python", "java"))}
        if sum(rss.values()) > self.peak:
            self.peak = sum(rss.values())
            self.at_peak = {f"{p} {_comm(p)}": b for p, b in rss.items()}

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def start(self) -> "PeakRss":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def sample_load() -> dict:
    """Machine load: core count, loadavg, the CPU pressure-stall shares
    from /proc/pressure/cpu and the cumulative CPU ticks of /proc/stat
    (the steal ticks count time the hypervisor gave to other guests)."""
    out: dict = {"ncpu": os.cpu_count()}
    out["loadavg"] = [round(v, 2) for v in os.getloadavg()]
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    out["cpu_ticks"] = {"busy": sum(ticks[:3]) + sum(ticks[5:7]), "idle": ticks[3] + ticks[4],
                        "steal": ticks[7] if len(ticks) > 7 else 0}
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                kind, *fields = line.split()
                parts = dict(kv.split("=") for kv in fields if "=" in kv)
                out[f"cpu_{kind}_avg10"] = float(parts["avg10"])
    except (OSError, KeyError, ValueError):
        pass
    return out


class PoissonClock:
    """Event times of a Poisson process with ``rate`` per second."""

    def __init__(self, rng, rate: float, start: float) -> None:
        self._rng, self._rate, self.next = rng, rate, start

    def advance(self) -> float:
        self.next += self._rng.expovariate(self._rate)
        return self.next
