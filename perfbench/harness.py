"""Measurement plumbing shared by the workloads: session set-up, spans,
streaming progress, resident memory, output checks and summary statistics.

Spans are recorded here, in the benchmark, around calls into the package's
public functions; nothing inside the package is instrumented.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import json
import os
import threading
import time


def process_start_time() -> float:
    """Wall-clock time at which this process started, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile; 0.0 for an empty list."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5)


# --- spans -------------------------------------------------------------------
class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out at the
    end. A disabled tracer records nothing and costs one attribute test."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.progress: list[dict] = []  # Spark's streaming progress records
        self.overhead_s = 0.0
        self._stack = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter()
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        rec = {"id": len(self.spans), "name": name, "parent": stack[-1] if stack else None,
               "run": self.run_id, **attrs}
        self.spans.append(rec)
        stack.append(rec["id"])
        rec["start"] = time.time()
        self.overhead_s += time.perf_counter() - c0
        try:
            yield
        finally:
            rec["end"] = time.time()
            c1 = time.perf_counter()
            stack.pop()
            self.overhead_s += time.perf_counter() - c1

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - child.get(s["id"], 0.0)
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "progress": self.progress}, f)


def covered_share(window: tuple[float, float], intervals) -> float:
    """Share of ``window`` covered by the union of ``intervals``."""
    lo, hi = window
    if hi <= lo:
        return 0.0
    covered, reached = 0.0, lo
    for a, b in sorted(intervals):
        b = min(b, hi)
        if b > reached:
            covered += b - max(a, reached)
            reached = b
    return covered / (hi - lo)


# --- streaming progress --------------------------------------------------------
@contextlib.contextmanager
def listening(spark):
    """Yields a log of every streaming progress record, as dicts, while
    the block runs. The pyspark import must follow the session's set-up."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []
            self.lock = threading.Lock()

        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = json.loads(event.progress.json)
            with self.lock:
                self.events.append(p)

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

        def wait_for(self, n: int, timeout_s: float = 10.0) -> list[dict]:
            """The records, once ``n`` have arrived or ``timeout_s`` passed:
            the listener bus delivers them after the query returns."""
            deadline = time.time() + timeout_s
            while time.time() < deadline:
                with self.lock:
                    if len(self.events) >= n:
                        break
                time.sleep(0.05)
            with self.lock:
                return list(self.events)

    log = ProgressLog()
    spark.streams.addListener(log)
    try:
        yield log
    finally:
        spark.streams.removeListener(log)


def trigger_interval(p: dict) -> tuple[float, float]:
    """Wall-clock (start, end) of one trigger from its progress record."""
    import datetime as dt

    start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=dt.timezone.utc).timestamp()
    return start, start + p["durationMs"].get("triggerExecution", 0) / 1000.0


def progress_metrics(events: list[dict]) -> dict[str, float]:
    """Pipeline, source and state-operator layer metrics from progress."""
    dur = [e.get("durationMs", {}) for e in events]
    trig = [d.get("triggerExecution", 0) for d in dur]
    ops = [op for e in events for op in e.get("stateOperators", [])]
    per_batch_rows = [sum(op.get("numRowsTotal", 0) for op in e.get("stateOperators", []))
                      for e in events]
    per_batch_bytes = [sum(op.get("memoryUsedBytes", 0) for op in e.get("stateOperators", []))
                       for e in events]
    return {
        "pipeline.batches": len(events),
        "pipeline.trigger_ms_p50": median(trig),
        "pipeline.trigger_ms_p95": quantile(trig, 0.95),
        "pipeline.query_planning_ms": sum(d.get("queryPlanning", 0) for d in dur),
        "pipeline.wal_commit_ms": sum(d.get("walCommit", 0) for d in dur),
        "pipeline.commit_offsets_ms": sum(d.get("commitOffsets", 0) for d in dur),
        "pipeline.add_batch_ms": sum(d.get("addBatch", 0) for d in dur),
        "sources.latest_offset_ms": sum(d.get("latestOffset", 0) for d in dur),
        "sources.get_batch_ms": sum(d.get("getBatch", 0) for d in dur),
        "state.update_ms": sum(op.get("allUpdatesTimeMs", 0) for op in ops),
        "state.removal_ms": sum(op.get("allRemovalsTimeMs", 0) for op in ops),
        "state.commit_ms": sum(op.get("commitTimeMs", 0) for op in ops),
        "state.rows_peak": max(per_batch_rows, default=0),
        "state.bytes_peak": max(per_batch_bytes, default=0),
        "state.rows_removed": sum(op.get("numRowsRemoved", 0) for op in ops),
        "state.late_rows": sum(op.get("numRowsDroppedByWatermark", 0) for op in ops),
    }


# --- resident memory -----------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants (the driver JVM
    and the Python workers are descendants of this process), as
    proportional set size: pages that forked Python workers share with
    their parent count once, not once per process."""
    total_kb = 0
    for pid in [root, *_descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class RssSampler:
    """Samples the process tree's resident memory on one thread; keeps the peak."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(pid))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_pss_mb(os.getpid()))


# --- checks ------------------------------------------------------------------
class Checks:
    """Counts attempted and failed output checks, keeping each failure's text."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    @property
    def failed(self) -> int:
        return len(self.failures)


# --- session -----------------------------------------------------------------
@dataclasses.dataclass
class Context:
    """What a workload's ``run`` receives."""

    spark: object
    seed: int
    seconds: float
    cores: int
    tracer: Tracer
    checks: Checks
    workdir: str
    conf: dict


def stop_jvm() -> None:
    """End the driver JVM and wait for it and for every process under it
    (the Python worker daemon exits when the JVM's pipes close)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    under = [pid for pid in _descendants(os.getpid()) if pid != gateway.proc.pid]
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and any(_alive(pid) for pid in under):
        time.sleep(0.1)


def _descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        for pid in kids.get(todo.pop(), []):
            out.append(pid)
            todo.append(pid)
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (an exited, unreaped process counts as ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def start_session(cores: int, tracer: Tracer, conf: dict[str, str]):
    """Build the Spark session. The driver heap is 2 GiB unless
    SPARK_GRAFT_DRIVER_MEM says otherwise, not the package's 8 GiB default:
    the workloads' data are a few MB, and a smaller heap keeps a run's
    memory small on a machine shared with other work. The heap size shapes
    ``peak_rss_mb`` and GC time."""
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from stellar_etl_spark.session import get_spark

    with tracer.span("session.get_spark"):
        return get_spark("perfbench", cores=cores, streaming=True, extra_conf=conf)
