"""Shared helpers: statistics, host telemetry, memory sampling, spans,
work directories and the result line."""

from __future__ import annotations

import itertools
import json
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager


# ------------------------------------------------------------ statistics


def pct(values, q: float) -> float:
    """Percentile ``q`` (0-100) by linear interpolation between the two
    nearest ranks; 0.0 for an empty sample."""
    xs = sorted(values)
    if not xs:
        return 0.0
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def median(values) -> float:
    xs = list(values)
    return float(statistics.median(xs)) if xs else 0.0


def mean(values) -> float:
    xs = list(values)
    return float(sum(xs) / len(xs)) if xs else 0.0


# ------------------------------------------------------- host telemetry


def _cpu_times() -> list[int] | None:
    try:
        with open("/proc/stat") as f:
            return [int(v) for v in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


class HostWindow:
    """CPU steal share and load average over the timed segment."""

    def __init__(self) -> None:
        self._t0 = _cpu_times()

    def report(self) -> dict:
        t1 = _cpu_times()
        steal = None
        if self._t0 and t1 and len(t1) > 7:
            delta = [b - a for a, b in zip(self._t0, t1)]
            total = sum(delta[:8])
            steal = round(100.0 * delta[7] / total, 2) if total else 0.0
        return {
            "nproc": os.cpu_count(),
            "steal_pct": steal,
            "loadavg1": round(os.getloadavg()[0], 2),
        }


# ------------------------------------------------------------- memory


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except (OSError, ValueError):
        pass
    return out


def tree_rss_mb(root_pid: int) -> float:
    """Resident set of a process and all its descendants, in MB."""
    total, stack, seen = 0, [root_pid], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _rss_kb(pid)
        stack.extend(_children(pid))
    return total / 1024.0


class TreeRssSampler:
    """Samples the resident set of a process tree (by default this one:
    driver, JVM, Python workers) every ``interval`` seconds."""

    def __init__(self, root_pid: int | None = None, interval: float = 0.2) -> None:
        self.samples: list[float] = []
        self._pid = root_pid or os.getpid()
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append(tree_rss_mb(self._pid))
            self._stop.wait(self._interval)

    def start(self) -> "TreeRssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.samples.append(tree_rss_mb(self._pid))

    def __enter__(self) -> "TreeRssSampler":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    def report(self, res) -> None:
        res.put("rss_mb", median(self.samples), "MB")
        res.info("resident set MB over the timed segment",
                 {"median": round(median(self.samples), 1), "peak": round(max(self.samples), 1),
                  "samples": len(self.samples)})


# -------------------------------------------------------------- spans


class Tracer:
    """In-memory span recorder. A span is (name, start_ns, end_ns,
    span_id, parent_id, request_id); the parent is the innermost open
    span on the same thread, and a request id set on a root span is
    inherited by its children."""

    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self._local = threading.local()
        self._ids = itertools.count(1)  # next() is atomic under the GIL

    @contextmanager
    def span(self, name: str, request_id: str | None = None):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else (0, None)
        sid = next(self._ids)
        rid = request_id if request_id is not None else parent[1]
        stack.append((sid, rid))
        t0 = time.perf_counter_ns()
        try:
            yield
        finally:
            t1 = time.perf_counter_ns()
            stack.pop()
            self.spans.append((name, t0, t1, sid, parent[0], rid))

    def record(self, name: str, t0: int, t1: int) -> None:
        """A closed span that started at ``t0``, child of the open one."""
        stack = getattr(self._local, "stack", None) or [(0, None)]
        self.spans.append((name, t0, t1, next(self._ids), stack[-1][0], stack[-1][1]))

    def dump(self, path: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.spans, f)
        os.replace(tmp, path)


def wrap_method(cls, attr: str, tracer: Tracer, name: str, request_id=None) -> None:
    """Replace ``cls.attr`` with a wrapper that records a span around
    each call; ``request_id(self)`` names the request a root span
    belongs to."""
    orig = getattr(cls, attr)

    def wrapper(self, *args, **kwargs):
        rid = request_id(self) if request_id else None
        with tracer.span(name, rid):
            return orig(self, *args, **kwargs)

    wrapper.__name__ = orig.__name__
    wrapper.__doc__ = orig.__doc__
    setattr(cls, attr, wrapper)


def self_times_ms(spans: list[tuple], names: set[str]) -> list[float]:
    """Self time of each span named in ``names``: its duration minus
    the time its direct children cover."""
    child_ns: dict[int, int] = {}
    for _n, t0, t1, _sid, parent, _rid in spans:
        child_ns[parent] = child_ns.get(parent, 0) + (t1 - t0)
    return [
        (t1 - t0 - child_ns.get(sid, 0)) / 1e6
        for n, t0, t1, sid, _p, _r in spans
        if n in names
    ]


# --------------------------------------------------------- work dirs


@contextmanager
def work_dir(name: str):
    """A fresh scratch directory under ``.hbench_work`` in the current
    directory, removed afterwards."""
    base = os.path.abspath(os.path.join(".hbench_work", f"{name}-{os.getpid()}"))
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    try:
        yield base
    finally:
        shutil.rmtree(base, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(base))
        except OSError:
            pass


def stream_dir(root: str, user: str, stream: str) -> str:
    """A stream's directory in the store's hive layout."""
    from urllib.parse import quote

    return os.path.join(root, f"user_id={quote(user, safe='')}", f"stream_id={quote(stream, safe='')}")


def dir_bytes(path: str, suffix: str = ".parquet") -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(suffix))
    return total


def files_per_stream(root: str) -> list[int]:
    """Parquet file count of every stream directory under a store root."""
    counts = []
    for user in os.listdir(root):
        udir = os.path.join(root, user)
        if not (user.startswith("user_id=") and os.path.isdir(udir)):
            continue
        for stream in os.listdir(udir):
            sdir = os.path.join(udir, stream)
            if stream.startswith("stream_id=") and os.path.isdir(sdir):
                counts.append(sum(f.endswith(".parquet") for f in os.listdir(sdir)))
    return counts


def store_defaults() -> str:
    """The EventStore constructor defaults the benchmark runs with."""
    import inspect

    from hematite_spark.store import EventStore

    params = inspect.signature(EventStore.__init__).parameters
    return "package defaults: " + ", ".join(
        f"{k}={p.default!r}" for k, p in params.items() if p.default is not inspect.Parameter.empty
    )


class Phases:
    """Wall seconds of each phase of a run, for the reader."""

    def __init__(self) -> None:
        self.laps: dict[str, float] = {}
        self._t = time.perf_counter()

    def mark(self, name: str) -> None:
        now = time.perf_counter()
        self.laps[name] = round(now - self._t, 3)
        self._t = now


# ------------------------------------------------------------ result


class Result:
    """Collects metrics and correctness findings for the final line."""

    def __init__(self) -> None:
        self.metrics: dict[str, dict] = {}
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit}

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(what)

    def info(self, key: str, value) -> None:
        """A line for the reader; never part of the result object."""
        print(f"# {key}: {value}", flush=True)

    def line(self) -> str:
        for e in self.errors[:20]:
            print(f"# CHECK FAILED: {e}", flush=True)
        return json.dumps(
            {
                "correct": not self.errors,
                "attempted": max(1, int(self.attempted)),
                "failed": int(self.failed),
                "metrics": self.metrics,
            }
        )
