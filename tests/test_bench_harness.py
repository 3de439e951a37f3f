"""bench.py harness policies that must not regress — pure helpers,
no SparkSession needed."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (  # noqa: E402
    CONTAMINATION_SPREAD,
    PATHOLOGICAL_CEILING_SEC,
    TIERS,
    bench_queries,
    merge_tier_results,
    pathological_entries,
    resolve_contamination,
    trial_spread,
)


def test_trial_spread_flags_planted_outlier():
    """r12 (VERDICT r11 item 5): the exact contention signature seen
    in BENCH_r10/r11 (one 3-30x outlier trial among settled ones)
    must trip the mechanical detector; a settled set must not."""
    assert trial_spread([2.9, 11.1, 30.6, 2.5, 2.0, 2.0]) > \
        CONTAMINATION_SPREAD  # text_remove_dup_spans, BENCH_r11
    assert trial_spread([2.0, 2.1, 2.4]) < CONTAMINATION_SPREAD
    assert trial_spread([0.5, 0.9, 0.6]) < CONTAMINATION_SPREAD
    # deliberately NOT flagged: the borderline single-outlier shape
    # (pipeline_curation_v2, BENCH_r11) sits under 3x — min-of-trials
    # absorbs it and the 2x adaptive extension already re-sampled it;
    # the mechanical flag is for sets that stay unusable
    assert trial_spread([3.0, 2.9, 8.4]) < CONTAMINATION_SPREAD


def test_resolve_contamination_policy():
    tainted = [2.9, 11.1, 30.6, 2.5, 2.0, 2.0]
    # clean re-run REPLACES the tainted set (no contention in minima)
    final, bad = resolve_contamination(tainted, [2.1, 2.0, 2.2])
    assert final == [2.1, 2.0, 2.2] and not bad
    # still-noisy re-run: keep all evidence, flag the query
    final, bad = resolve_contamination(tainted, [2.0, 9.0, 2.1])
    assert final == tainted + [2.0, 9.0, 2.1] and bad


def test_pathological_jvm_guard_policy():
    """r17: the uniformly-catastrophic spans signature (trials
    [39.1, 67.7, 46.4] at 8 cores, idle canary 0.382 — spread 1.7x,
    so the spread detector CANNOT see it) must trip the fresh-JVM
    re-spawn; every legitimate reading observed this round must not."""
    # the caught signature: 39.1 s min, canary 0.382 -> 102x
    assert pathological_entries(
        {"text_remove_dup_spans": 39.102,
         "text_remove_dup_passages": 1.208},
        0.382,
    ) == ["text_remove_dup_spans"]
    # worst LEGITIMATE readings: jaccard under a host burst (8.15 s
    # but canary 0.645 -> 12.6x), jaccard at 8 cores (5.0 s, 15x but
    # under the absolute floor), cc_clusters_star everywhere
    assert pathological_entries(
        {"jaccard_verify_lsh": 8.152, "cc_clusters_star": 9.915}, 0.645
    ) == []
    assert pathological_entries(
        {"jaccard_verify_lsh": 4.959, "cc_clusters_star": 4.081}, 0.332
    ) == []
    # no canary recorded (or zero) -> never fires
    assert pathological_entries({"x": 100.0}, None) == []
    assert pathological_entries({"x": 100.0}, 0.0) == []


def test_pathological_jvm_guard_absolute_ceiling():
    """ADVICE r17 item 3: a sticky JVM that ALSO slows the canary
    hides under the 30x ratio (39.1 s over a 4x-slowed 1.53 s canary
    is only 26x). Above the absolute ceiling the tier re-spawns
    whatever the ratio; at or below it the ratio gate still rules."""
    assert PATHOLOGICAL_CEILING_SEC == 30.0
    slow_canary = 1.53
    assert pathological_entries(
        {"text_remove_dup_spans": 39.1, "cc_clusters_star": 9.9},
        slow_canary,
    ) == ["text_remove_dup_spans"]
    # the boundary: strictly above the ceiling fires, at it does not
    assert pathological_entries({"x": 30.001}, slow_canary) == ["x"]
    assert pathological_entries({"x": 30.0}, slow_canary) == []
    # under the ceiling, a high-ratio reading still fires via the
    # ratio gate, a low-ratio one does not
    assert pathological_entries({"x": 29.0}, 0.5) == ["x"]
    assert pathological_entries({"x": 29.0}, 1.0) == []
    # no canary recorded: the guard stays off, ceiling included
    assert pathological_entries({"x": 100.0}, None) == []


def test_merge_tier_results_keeps_both_legs():
    first = {
        "queries": {"a": 39.1, "b": 1.2},
        "trials": {"a": [39.1, 67.7, 46.4], "b": [1.3, 1.2]},
        "extra": {"canary_spans": 0.38, "steal_pct_spans": 1.4},
        "contaminated": ["b"],
    }
    rerun = {
        "queries": {"a": 2.1, "b": 1.5},
        "trials": {"a": [2.2, 2.1, 2.3], "b": [1.5, 1.6]},
        "extra": {"canary_spans": 0.41, "steal_pct_spans": 0.2},
        "contaminated": [],
    }
    m = merge_tier_results(first, rerun)
    # per-entry min across legs; a leg can only help, never hide
    assert m["queries"] == {"a": 2.1, "b": 1.2}
    # EVERY trial from both legs stays on the record
    assert m["trials"]["a"] == [39.1, 67.7, 46.4, 2.2, 2.1, 2.3]
    assert m["trials"]["b"] == [1.3, 1.2, 1.5, 1.6]
    # first leg's extras win; re-run's kept under _rerun
    assert m["extra"]["canary_spans"] == 0.38
    assert m["extra"]["canary_spans_rerun"] == 0.41
    assert m["contaminated"] == ["b"]


def test_tiers_cover_bench_queries_exactly():
    """Same invariant main() asserts, pinned at test time too: every
    bench query is in exactly one tier."""
    all_names = [n for names in TIERS.values() for n in names]
    assert len(all_names) == len(set(all_names))
    assert set(all_names) == set(bench_queries(None, {}, None))


def test_bench_compare_normalizes_and_triages(tmp_path):
    """r16 (VERDICT r15 item 5): tools/bench_compare reads the
    driver's wrapped-and-possibly-truncated artifacts and triages
    creep with the per-tier canary SYMMETRICALLY: any verdict that
    rests on the normalized ratio alone (excusing a raw creep as
    'ambient' or asserting a masked regression as 'REAL') requires a
    modest canary swing — under a large swing both downgrade to
    'check'."""
    import json

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
        ),
    )
    from bench_compare import _verdict, compare, load_bench

    old_inner = {
        "queries": {"q1_pricing_summary": 1.0},
        "trials": {
            "q1_pricing_summary": [1.2, 1.0],   # relational tier
            "event_window_agg": [2.0],          # events tier
            "text_quality": [1.0],              # text tier
        },
        "extra": {
            "canary_relational": 0.5,
            "canary_events": 1.0,
            "canary_text": 2.0,   # old run was ~3x loaded on text
        },
    }
    new_inner = {
        "trials": {
            "q1_pricing_summary": [2.1, 2.0],   # raw 2.0x, canary 2x swing
            "event_window_agg": [2.1],          # raw 1.05x flat -> ok
            "text_quality": [1.1],              # raw 1.1x, canary 0.35x
        },
        "extra": {
            "canary_relational": 1.0,
            "canary_events": 1.0,
            "canary_text": 0.7,
        },
    }
    old_p, new_p = str(tmp_path / "old.json"), str(tmp_path / "new.json")
    # the driver wrapper: inner json under 'tail', FRONT-TRUNCATED
    tail = json.dumps(old_inner)
    with open(old_p, "w") as f:
        json.dump({"n": 15, "rc": 0, "tail": tail[tail.index('"trials"') - 1:],
                   "parsed": None}, f)
    with open(new_p, "w") as f:
        json.dump({"n": 16, "rc": 0, "tail": json.dumps(new_inner),
                   "parsed": None}, f)

    assert load_bench(old_p)["extra"]["canary_text"] == 2.0  # truncation ok

    rep = compare(old_p, new_p, threshold=1.2)
    rows = {r["entry"]: r for r in rep["rows"]}
    # raw creep that normalizes away, but the canary DOUBLED: the
    # ambient excuse is as unsupported as the masked-REAL assertion
    # would be -> check, not ambient
    assert rows["q1_pricing_summary"]["verdict"] == "check"
    assert rows["event_window_agg"]["verdict"] == "ok"
    # raw clean + normalized over, canary swung 0.35x -> check too
    assert rows["text_quality"]["verdict"] == "check"
    assert sorted(rep["check"]) == ["q1_pricing_summary", "text_quality"]
    assert rep["over_threshold_real"] == []
    assert rep["over_threshold_ambient"] == []

    # every _verdict branch, directly (raw-ratio, norm, canary, thr):
    assert _verdict(1.5, None, None, 1.2) == "REAL"      # no canary
    assert _verdict(1.0, None, None, 1.2) == "ok"
    assert _verdict(1.5, 1.0, 1.5 / 1.0, 1.2) == "check"  # big swing
    # canary 1.3 is inside [0.75, 1.33]: modest swing -> ambient
    assert _verdict(1.3, 1.0, 1.3, 1.2) == "ambient"
    assert _verdict(1.5, 1.5, 1.0, 1.2) == "REAL"         # both exceed
    # masked regression, STEADY canary: raw 1.15 clean, canary 0.8,
    # norm 1.44 -> asserted REAL (the branch commit 93bcc98 pins)
    assert _verdict(1.15, 1.15 / 0.8, 0.8, 1.2) == "REAL"
    # masked regression, big swing (canary 0.35) -> check
    assert _verdict(1.1, 1.1 / 0.35, 0.35, 1.2) == "check"
    assert _verdict(1.0, 1.0, 1.0, 1.2) == "ok"


def test_final_json_line_fits_driver_tail_window():
    """r17 (VERDICT r16 item 2): the external driver stores only a
    ~2000-char TAIL of bench stdout, and the r15 artifact's single fat
    line fell out of that window mid-dict — PERF_r16 lost the entire
    round-over-round comparison. The contract line (metric / value /
    unit / queries / sf) is now emitted LAST and WITHOUT the per-trial
    arrays; pin that it parses and stays comfortably inside the window
    even with every query at a worst-case-width value."""
    import json

    names = sorted(bench_queries(None, {}, None))
    line = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": 99999.999,
            "unit": "sec",
            "queries": {n: 99999.999 for n in names},
            "contaminated": [],
            "isolation": "per-tier JVM (fresh subprocess per tier)",
            "sf": 0.1,
        }
    )
    assert json.loads(line)["queries"], "line must parse"
    assert len(line) < 1900, (
        f"final bench line is {len(line)} chars; the driver tail "
        "window is ~2000 — move detail fields to the bench_detail "
        "line, do not grow the contract line"
    )


def test_merge_driver_java_options_preserves_and_dedupes_jit_flag():
    """r17 (VERDICT r16 item 8 + ADVICE): the interpreted-planner fix
    must survive caller extraJavaOptions overrides, must not duplicate
    when the caller already passes it, and must not override an
    explicit opposite caller choice."""
    from dataprocessingframework_spark.session import (
        merge_driver_java_options,
    )

    # plain override: flag prepended, caller flags kept (and last)
    merged = merge_driver_java_options("-Xss16m")
    assert merged.startswith("-XX:-DontCompileHugeMethods")
    assert merged.endswith("-Xss16m")
    # caller already carries the flag: no duplication
    v = "-XX:ReservedCodeCacheSize=512m -XX:-DontCompileHugeMethods"
    assert merge_driver_java_options(v) == v
    assert merged.count("DontCompileHugeMethods") == 1
    # explicit opposite polarity is a deliberate caller choice
    assert (
        merge_driver_java_options("-XX:+DontCompileHugeMethods")
        == "-XX:+DontCompileHugeMethods"
    )
    # the bench tier JVMs carry the flag in their conf string
    import bench as _bench

    src = open(_bench.__file__).read()
    assert "-XX:-DontCompileHugeMethods" in src
