"""spark-dpf workload benchmark.

    python3 perfbench/run.py --workload curate_text --seed 1 --seconds 5 --trace 0

Workloads (see perfbench/README.md): ``curate_text`` and
``semantic_ingest``. The launcher sizes Spark for the host
(``local[<cpus>]``, a driver heap that fits the machine), exports
``PYTHONPATH`` so Python workers can import the package, keeps every
file it writes under ``.perfbench_work/`` in the checkout, and removes it
on exit. ``--workload all`` runs every workload in turn and prints each
one's metrics.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` they are the
per-layer metrics, measured with spans and Spark job counters, plus the
tracing overhead against untraced passes of the same run.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from typing import Any

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    STAGE_QUANTITIES,
    RssSampler,
    Run,
    percentile,
    result_line,
    stop_processes,
)

# the inputs are a few MB: a 2 GB driver heap fits them with room, where
# the library's default (48g) would over-commit a small shared host
DRIVER_HEAP_GB = 2

# Lazy stages are built by the call and computed by a separate action;
# eager ones do all their work inside the call, so they have no exec_s, and
# only the writer counts output rows. README.md maps stages to workloads.
LAZY = (
    "filters.regex_clean",
    "dataset.quality_gate",
    "dataset.exact_dedup",
    "dedup.lsh_candidates",
    "dedup.jaccard_verify",
    "text_analysis.span_dedup",
    "text_analysis.chunk",
    "text_analysis.pack",
)
EAGER = (
    "sources.write",
    "similarity.train_centroids",
    "streaming.bootstrap",
    "streaming.batch",
    "sources.compact_batch",
)
LAYERS = ("session", "sources", "filters", "dataset", "dedup",
          "text_analysis", "similarity", "streaming")

END_TO_END = {"setup_s": "s", "items_per_s": "1/s", "peak_rss_mb": "MB"}


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    out = {"session.start.construct_s": "s"}
    for stage in LAZY + EAGER:
        for q, unit in STAGE_QUANTITIES:
            if stage in EAGER and (q == "exec_s" or (
                    q == "rows_out" and stage != "sources.write")):
                continue
            out[f"{stage}.{q}"] = unit
    out["dedup.verified_per_candidate"] = "ratio"
    out["streaming.batch.samples"] = "count"
    out["streaming.batch_dropped"] = "count"
    out["streaming.batch_planted"] = "count"
    for layer in LAYERS:
        out[f"{layer}.self_s"] = "s"
    out["bench.trace_overhead_s"] = "s"
    return out


def host_env(work: str) -> None:
    """Size Spark for this host and keep its files in ``work``."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{DRIVER_HEAP_GB}g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the short-lived JVM that builds the spark-submit command line would
    # otherwise leave a perf-counter file in /tmp while it runs
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since the process began."""
    print(f"[{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def measure(workload: str, seed: int, seconds: float, trace: bool, work: str) -> tuple[Run, dict]:
    from workloads import WORKLOADS, start_session

    run = Run(workload, seed, trace)
    wl = WORKLOADS[workload](run, seed, work)
    wl.generate()
    log(f"{workload} inputs generated")
    setup_times = []
    with RssSampler() as rss:
        for _ in range(wl.setup_reps):
            if wl.spark is not None:
                wl.spark.stop()
            t0 = time.perf_counter()
            with run.tracer.span("session.start", "session"):
                wl.spark = start_session(work)
            run.samples["session.start.construct_s"].append(time.perf_counter() - t0)
            run.attach(wl.spark)
            wl.setup()
            setup_times.append(time.perf_counter() - t0)
            log(f"{workload} set-up {setup_times[-1]:.3f}s")
            run.flush_counters()
        for _ in range(wl.warmup_steps):
            wl.step()
            run.drop_counters()
            log(f"{workload} warm-up step done")
        run.tracer.enabled = False
        items, times = measure_steps(run, wl, seconds, traced=False)
        # a traced run then measures as many steps again, traced; the gap
        # between the two medians is the tracing overhead
        traced_times: list[float] = []
        if trace:
            run.tracer.enabled = True
            _, traced_times = measure_steps(run, wl, seconds, traced=True)
        wl.finish()
        wl.spark.stop()
        log(f"{workload} session stopped")
    summary = {
        "setup_s": statistics.median(setup_times),
        "items_per_s": wl.throughput(items, times),
        "peak_rss_mb": rss.peak_mb,
        "steps": times,
        "traced_steps": traced_times,
        "loop": wl.loop,
        "fingerprints": wl.fingerprints,
    }
    return run, summary


def measure_steps(run: Run, wl: Any, seconds: float, traced: bool) -> tuple[list[int], list[float]]:
    """Run steps until ``seconds`` have passed and ``wl.min_steps`` steps
    succeeded (at most twice that many attempts). Returns the items and
    wall time of each step that succeeded."""
    run.reset_step_samples()
    items: list[int] = []
    times: list[float] = []
    start, n = time.perf_counter(), 0
    while True:
        t0 = time.perf_counter()
        try:
            with run.tracer.span("pass", "bench"):
                got = wl.step()
        except Exception:  # a raised stage is counted; the next step still runs
            traceback.print_exc()
            got = 0
        dt = time.perf_counter() - t0
        log(f"{wl.name} step {n} {dt:.3f}s traced={traced}")
        if not traced:
            run.drop_counters()
        run.flush_counters()
        n += 1
        if got:
            items.append(got)
            times.append(dt)
        done = time.perf_counter() - start >= seconds and len(times) >= wl.min_steps
        if done or n >= 2 * wl.min_steps:
            break
    if not times:
        raise RuntimeError(f"{wl.name}: every measured step failed")
    return items, times


def result(run: Run, summary: dict, trace: bool) -> dict[str, tuple[float, str]]:
    if not trace:
        return {k: (summary[k], u) for k, u in END_TO_END.items()}
    units = per_layer_metrics()
    for layer, s in run.tracer.self_times().items():
        run.values[f"{layer}.self_s"] = s
    run.values["streaming.batch.samples"] = float(
        len(run.samples.get("streaming.batch.construct_s", [])))
    run.values["bench.trace_overhead_s"] = (
        statistics.median(summary["traced_steps"]) - statistics.median(summary["steps"]))
    vals = run.per_layer(list(units))
    return {k: (vals[k], units[k]) for k in units}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        from workloads import WORKLOADS

        code = 0
        for name in WORKLOADS:
            code |= subprocess.call([sys.executable, __file__, "--workload", name,
                                     "--seed", str(args.seed), "--seconds", str(args.seconds),
                                     "--trace", str(args.trace)])
        return code
    if not os.path.isdir(os.path.join(ROOT, "dataprocessingframework_spark")):
        print(f"perfbench: the package is not in {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    # a SIGTERM unwinds through the clean-up below like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host_env(work)
    trace = bool(args.trace)
    try:
        run, summary = measure(args.workload, args.seed, args.seconds, trace, work)
        if trace:
            run.tracer.dump(os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}.json"))
    finally:
        # on every path out: the JVM and its workers end before the files
        # they use are removed and before this process exits
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    metrics = result(run, summary, trace)
    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    steps = summary["steps"]
    p50 = percentile(steps, 50)
    print(f"{args.workload} ({summary['loop']}) steps={len(steps)} "
          f"step_p50_s={'%.4g' % p50 if p50 is not None else 'n/a (needs 20+ steps)'} "
          f"attempted={run.attempted} failed={run.failed} error_rate={run.error_rate:.4g} "
          f"fingerprint={','.join(sorted(summary['fingerprints']))}")
    for note in run.notes:
        print(f"{args.workload} {note}")
    print(result_line(run.failed == 0, run.attempted, run.failed, metrics))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
