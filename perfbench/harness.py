"""Run context shared by the workloads: hermetic directories, the Spark
session's life, job labels, spans and counters, and summary statistics.

Everything here wraps the engine from outside. It calls the engine's public
functions and times them; nothing in the engine is patched except that the
serving workload replaces methods on the one ``EngineAPI`` instance it owns.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of a non-empty list, ``0 <= q <= 1``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of an empty list")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans and counters. Disabled, every call is a no-op.

    A span is ``(id, name, start, end, parent_id, rid)``; the parent is the
    innermost open span on the same thread, and ``rid`` groups the spans of
    one request or pass.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, name, start, end, parent, rid))

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name] += value

    def sample(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.samples[name].append(value)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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


def self_times(spans: list[tuple]) -> dict[str, float]:
    """Seconds per span name of the span's duration minus the part of its
    interval that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for _sid, _name, start, end, parent, _rid in spans:
        if parent is not None:
            children[parent].append((start, end))
    out: dict[str, float] = defaultdict(float)
    for sid, name, start, end, _parent, _rid in spans:
        out[name] += (end - start) - _covered(children.get(sid, []), start, end)
    return dict(out)


def span_report(spans: list[tuple]) -> list[str]:
    """One line per span name: count, total seconds and self seconds."""
    totals: dict[str, list[float]] = defaultdict(list)
    for _sid, name, start, end, _parent, _rid in spans:
        totals[name].append(end - start)
    own = self_times(spans)
    return [
        f"{name}: n={len(d)} total={sum(d):.3f}s self={own[name]:.3f}s"
        for name, d in sorted(totals.items())
    ]


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def _proc_status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _descendants(root: int) -> list[int]:
    parent_of: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as f:
                stat = f.read()
        except OSError:
            continue
        parent_of[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


class Run:
    """One benchmark process: its scratch directory, its Spark session and
    its tracer. Use as a context manager; leaving it stops Spark, waits for
    the JVM to exit and deletes the scratch directory."""

    def __init__(self, workload: str, seed: int, trace: bool, root: str) -> None:
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.tracer = Tracer(trace)
        self.tmp = os.path.join(root, ".perfbench_tmp", f"{workload}-{os.getpid()}")
        self.spark = None
        self._gateway = None
        self.peak_rss_kb = 0
        self.eventlog_dir = os.path.join(self.tmp, "eventlog")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def __enter__(self) -> "Run":
        shutil.rmtree(self.tmp, ignore_errors=True)
        for d in ("tmp", "local", "artifacts", "warehouse", "eventlog", "work"):
            os.makedirs(os.path.join(self.tmp, d), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.tmp, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.tmp, "local")
        os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = os.path.join(self.tmp, "artifacts")
        # spark-submit's launcher JVM: no hsperfdata file under /tmp either
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(2, os.cpu_count() or 2)))
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        os.chdir(os.path.join(self.tmp, "work"))
        return self

    def __exit__(self, *exc) -> None:
        try:
            self.stop_spark()
        finally:
            os.chdir(os.path.dirname(os.path.dirname(self.tmp)))
            shutil.rmtree(self.tmp, ignore_errors=True)
            parent = os.path.dirname(self.tmp)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)

    # -- outcomes ---------------------------------------------------------
    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    # -- Spark session ----------------------------------------------------
    def _conf(self) -> dict[str, str]:
        java_tmp = os.path.join(self.tmp, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.local.dir": os.path.join(self.tmp, "local"),
            # no hsperfdata file under /tmp: the run writes only inside the checkout
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={java_tmp} -Dderby.system.home={java_tmp} -XX:-UsePerfData"
            ),
        }
        if self.trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.dir"] = "file://" + self.eventlog_dir
        return conf

    def start_spark(self):
        """Start (or, after :meth:`restart_spark`, re-create) the session."""
        from etl_weather_spark.session import get_spark

        with self.tracer.span("session.start"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=self._conf())
            self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self._gateway = SparkContext._gateway
        return self.spark

    def restart_spark(self):
        self.sample_rss()
        self.spark.stop()
        return self.start_spark()

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        self.sample_rss()
        self.spark.stop()
        self.spark = None
        gw = self._gateway
        if gw is not None:
            from pyspark import SparkContext

            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 - must not leave the JVM behind
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
            self._gateway = None

    def sample_rss(self) -> int:
        """Sum of the high-water RSS of this process and the JVM tree."""
        kb = _proc_status_kb(os.getpid(), "VmHWM")
        proc = getattr(self._gateway, "proc", None)
        if proc is not None:
            for pid in [proc.pid, *_descendants(proc.pid)]:
                kb += _proc_status_kb(pid, "VmHWM")
        self.peak_rss_kb = max(self.peak_rss_kb, kb)
        return kb

    # -- job labels and pins (traced runs only) ----------------------------
    @contextmanager
    def job_group(self, label: str):
        """Label the Spark jobs this thread starts. Threads started with
        ``InheritableThread`` inside the block inherit the label."""
        if not self.trace:
            yield
            return
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(label, label)
        try:
            yield
        finally:
            if prev is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(prev, prev)

    def pins(self) -> int:
        """Persisted RDDs plus CacheManager entries left in the session."""
        jsc = self.spark.sparkContext._jsc
        rdds = jsc.getPersistentRDDs().size()
        cached = self.spark._jsparkSession.sharedState().cacheManager().isEmpty()
        return int(rdds) + (0 if cached else 1)

    def record_pins(self) -> None:
        """In a traced run, sample :meth:`pins` after a query or pass."""
        if self.trace:
            self.tracer.sample("queries.pins_after", self.pins())
