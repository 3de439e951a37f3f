"""Measurement plumbing shared by the workloads: spans, stage timing,
Spark job counters read from outside the library, peak RSS, and the
result line.

Nothing here imports the library. A workload calls the library's public
functions inside :meth:`Run.stage`, which times the call (``construct``)
and the action that materializes its result (``exec``), tags the Spark
jobs with a job group, and, in a traced run, records spans and reads the
jobs' counters from the Spark UI REST API.
"""

from __future__ import annotations

import json
import os
import re
import signal
import statistics
import threading
import time
import urllib.request
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from datetime import datetime
from typing import Any

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# per-stage quantities, in the order BENCHMARK.json lists them
STAGE_QUANTITIES = (
    ("construct_s", "s"),
    ("exec_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("task_s", "s"),
    ("shuffle_mb", "MB"),
    ("rows_out", "count"),
)


def percentile(values: list[float], q: float, min_beyond: int = 10) -> float | None:
    """The ``q``-th percentile (0-100, nearest rank) of ``values``, or
    None unless at least ``min_beyond`` samples lie above it."""
    if not values:
        return None
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * q // 100))  # ceil, 1-based
    if len(ordered) - int(rank) < min_beyond:
        return None
    return ordered[int(rank) - 1]


# ------------------------------------------------------------------- spans
class Tracer:
    """In-memory spans: name, layer, start, end, parent and run id.
    Disabled tracers record nothing and cost one branch per span."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": idx, "name": name, "layer": layer, "parent": parent,
               "run": self.run_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per layer: the sum over its spans of the span's duration minus
        the time its direct children cover (children never overlap: the
        benchmark is one client thread)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["layer"]] += s["end"] - s["start"] - child_time[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# --------------------------------------------------------- spark counters
class SparkCounters:
    """Jobs, tasks, executor run time and shuffle bytes per benchmark
    stage, read from the Spark UI REST API (the same source the Spark UI
    shows). Jobs are attributed to a stage by the job group the benchmark
    set around it; jobs that carry another group (a streaming query runs
    its micro-batches under its own) are attributed by submission time
    to the stage whose wall-clock window contains it."""

    def __init__(self, spark: Any) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str) -> Any:
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def collect(self, windows: dict[str, tuple[float, float]]) -> dict[str, dict]:
        """``windows``: job group -> (start, end) in epoch seconds.
        Returns job group -> {jobs, tasks, task_s, shuffle_mb}."""
        lo = min(w[0] for w in windows.values())
        jobs: list[dict] = []
        for _ in range(50):  # the UI store trails the scheduler slightly
            jobs = [j for j in self._get("/jobs")
                    if "submissionTime" in j and _epoch(j["submissionTime"]) >= lo - 0.5]
            if all(j["status"] != "RUNNING" for j in jobs):
                break
            time.sleep(0.1)
        stages = {s["stageId"]: s for s in self._get("/stages")
                  if s["status"] in ("COMPLETE", "FAILED")}
        out = {g: {"jobs": 0, "tasks": 0, "task_s": 0.0, "shuffle_mb": 0.0} for g in windows}
        for j in jobs:
            group = j.get("jobGroup")
            if group not in windows:
                t = _epoch(j["submissionTime"])
                group = next((g for g, (a, b) in windows.items() if a <= t <= b), None)
                if group is None:
                    continue
            acc = out[group]
            acc["jobs"] += 1
            for sid in j["stageIds"]:
                s = stages.get(sid)
                if s is None:
                    continue
                acc["tasks"] += s.get("numCompleteTasks", 0)
                acc["task_s"] += s.get("executorRunTime", 0) / 1000.0
                acc["shuffle_mb"] += s.get("shuffleWriteBytes", 0) / 1e6
        return out


def _epoch(ts: str) -> float:
    # Spark UI times look like 2026-10-17T03:01:30.123GMT
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


# -------------------------------------------------------------- peak RSS
class RssSampler:
    """Peak summed memory of this process's descendants (the driver JVM
    and the Python workers it forks), sampled from /proc every ``period``
    seconds on a daemon thread. Each process counts its proportional set
    size (shared pages split between the processes sharing them), so a
    forked worker does not count its parent's pages a second time."""

    def __init__(self, period: float = 0.5) -> None:
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.peak_kb = max(self.peak_kb, _tree_pss_kb(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def _descendants(root: int) -> list[int]:
    kids = _proc_children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended and does not count)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_processes(timeout: float = 30.0) -> None:
    """End every process this one started (the Spark driver JVM and the
    Python workers it forked) and wait until each has ended.

    pyspark stops the JVM only when the interpreter exits and does not
    wait for it, so a run would otherwise leave the JVM shutting down
    behind it. Closing the JVM's stdin asks it to exit; whatever still
    runs after ``timeout`` seconds is killed."""
    pids = _descendants(os.getpid())
    try:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
    except ImportError:
        gateway = None
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL, None):
        deadline = time.monotonic() + timeout
        while any(_alive(p) for p in pids) and time.monotonic() < deadline:
            time.sleep(0.05)
        left = [p for p in pids if _alive(p)]
        if not left:
            break
        if sig is None:
            raise RuntimeError(f"processes {left} did not end")
        for p in left:
            try:
                os.kill(p, sig)
            except OSError:
                pass
    # reap the ones that are this process's children; init reaps those
    # whose parent (the JVM) ended first
    deadline = time.monotonic() + 5
    while time.monotonic() < deadline:
        for p in pids:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        if not any(os.path.exists(f"/proc/{p}") for p in pids):
            break
        time.sleep(0.05)


def _tree_pss_kb(root: int) -> int:
    total = 0
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


# ------------------------------------------------------------------- run
class Run:
    """One workload run: stage timings, counters, output checks and the
    failure count behind ``error_rate``."""

    def __init__(self, workload: str, seed: int, trace: bool) -> None:
        self.run_id = f"{workload}-{seed}-{os.getpid()}"
        self.tracer = Tracer(self.run_id, trace)
        self.trace = trace
        self.spark: Any = None
        self.counters: SparkCounters | None = None
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.values: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self._windows: dict[str, tuple[float, float]] = {}
        self._seq = 0

    # ---- session
    def attach(self, spark: Any) -> None:
        self.spark = spark
        self.counters = SparkCounters(spark) if self.trace else None

    # ---- stages
    def stage(
        self,
        name: str,
        build: Callable[[], Any],
        materialize: Callable[[Any], tuple[Any, int]] | None = None,
    ) -> Any:
        """Time ``build()`` (the public call, including any jobs it runs
        eagerly) as ``construct_s`` and ``materialize(result)`` (the
        action that computes it, returning the computed result and its
        row count) as ``exec_s``. ``name`` is ``<layer>.<stage>``.
        Returns the materialized result, or ``build()``'s without one."""
        layer = name.split(".", 1)[0]
        self._seq += 1
        group = f"{self.run_id}:{self._seq}:{name}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        self.attempted += 1
        w0 = time.time()
        try:
            with self.tracer.span(name, layer):
                t0 = time.perf_counter()
                with self.tracer.span(name + ".construct", layer):
                    out = build()
                t1 = time.perf_counter()
                rows = None
                if materialize is not None:
                    with self.tracer.span(name + ".exec", layer):
                        out, rows = materialize(out)
                t2 = time.perf_counter()
        except Exception:
            self.failed += 1
            raise
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._windows[group] = (w0, time.time())
        self.samples[f"{name}.construct_s"].append(t1 - t0)
        self.samples[f"{name}.exec_s"].append(t2 - t1)
        if rows is not None:
            self.samples[f"{name}.rows_out"].append(float(rows))
        return out

    def drop_counters(self) -> None:
        """Forget the stages since the last flush (an untraced pass)."""
        self._windows.clear()

    def flush_counters(self) -> None:
        """Read the Spark counters of every stage since the last flush.
        Called between passes, outside any timed region."""
        if self.counters is None or not self._windows:
            self._windows.clear()
            return
        per_group = self.counters.collect(self._windows)
        for group, acc in per_group.items():
            name = group.split(":", 2)[2]
            for k, v in acc.items():
                self.samples[f"{name}.{k}"].append(float(v))
        self._windows.clear()

    def reset_step_samples(self) -> None:
        """Forget the per-step samples so far (warm-up, or an untraced
        phase), keeping the set-up stages'."""
        for k in list(self.samples):
            if not k.startswith(("session.", "similarity.", "streaming.bootstrap")):
                self.samples[k].clear()

    # ---- checks
    def check(self, label: str, ok: bool, detail: str = "") -> None:
        """Count one output check; a failed one counts in error_rate."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"check failed: {label} {detail}".strip())

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    # ---- result
    def per_layer(self, names: list[str]) -> dict[str, float]:
        """Every named per-layer metric: the median of a stage quantity's
        samples across passes, an explicit value, or 0 for a stage this
        workload does not run (it did no work there)."""
        out = {}
        for n in names:
            if n in self.values:
                out[n] = self.values[n]
            elif self.samples.get(n):
                out[n] = statistics.median(self.samples[n])
            else:
                out[n] = 0.0
        return out


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    for name in metrics:
        if not METRIC_NAME.match(name):
            raise ValueError(f"bad metric name {name!r}")
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })
