"""Unit tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402


def _tree_bytes(path: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


def _generate_all(seed: int, base: str) -> dict[str, bytes]:
    gen.text_corpus(seed, os.path.join(base, "corpus"), n_docs=120,
                    exact_dup_share=0.1, near_dup_share=0.1, boilerplate_share=0.3)
    stream = gen.VectorStream(seed)
    gen.write_vectors(os.path.join(base, "vec", "base.parquet"), *stream.base(50))
    ids, vecs, _ = stream.batch(20, 0.1)
    gen.write_vectors(os.path.join(base, "vec", "b1.parquet"), ids, vecs)
    return _tree_bytes(base)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _generate_all(7, str(tmp_path / "a"))
    b = _generate_all(7, str(tmp_path / "b"))
    c = _generate_all(8, str(tmp_path / "c"))
    assert a.keys() == b.keys() and len(a) == 6  # 4 corpus parts, 2 vector files
    assert a == b
    assert a != c


def test_planted_duplicates_are_what_the_checks_expect(tmp_path):
    truth = gen.text_corpus(3, str(tmp_path / "t"), n_docs=200, exact_dup_share=0.1,
                            near_dup_share=0.1, boilerplate_share=0.3)
    texts = truth["texts"]
    assert len(truth["exact_dup_ids"]) == len(truth["near_dup_ids"]) == 20
    for i in truth["exact_dup_ids"]:
        assert texts.index(texts[i]) < i  # an earlier original exists
    # near-dups are new texts, each within Jaccard >= 0.9 of some base doc
    n_base = 200 - 40
    for i in truth["near_dup_ids"]:
        assert texts.index(texts[i]) == i
        assert max(gen.jaccard(texts[i], t) for t in texts[:n_base]) >= 0.9


def test_vector_stream_plants_only_close_duplicates():
    import numpy as np

    stream = gen.VectorStream(5)
    _, base = stream.base(200)
    ids, vecs, dups = stream.batch(100, 0.2)
    assert len(dups) == 20
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    ref = base / np.linalg.norm(base, axis=1, keepdims=True)
    best = (unit @ ref.T).max(axis=1)
    is_dup = np.isin(ids, list(dups))
    assert best[is_dup].min() > 0.99
    assert best[~is_dup].max() < 0.9


def test_percentile_needs_ten_samples_beyond():
    assert harness.percentile(list(range(19)), 50) is None  # 9 beyond
    assert harness.percentile(list(range(20)), 50) == 9  # 10 beyond
    assert harness.percentile(list(range(100)), 90) == 89
    assert harness.percentile(list(range(100)), 99) is None
    assert harness.percentile([], 50) is None


def test_metric_names_are_well_formed_and_match_benchmark_json():
    names = list(run.END_TO_END) + list(run.per_layer_metrics())
    assert len(names) == len(set(names))
    for n in names:
        assert harness.METRIC_NAME.match(n), n
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_metrics()
    assert [w["name"] for w in spec["workloads"]] == ["curate_text", "semantic_ingest"]


def test_result_line_rejects_bad_metric_names():
    with pytest.raises(ValueError):
        harness.result_line(True, 1, 0, {"bad name": (1.0, "s")})


def test_failed_output_check_counts_in_error_rate():
    r = harness.Run("curate_text", 1, trace=False)
    r.check("ok", True)
    assert (r.attempted, r.failed, r.error_rate) == (1, 0, 0.0)
    r.check("wrong output", False, "kept 3, expected 2")
    assert (r.attempted, r.failed) == (2, 1)
    assert r.error_rate == 0.5
    assert r.notes == ["check failed: wrong output kept 3, expected 2"]
    line = json.loads(harness.result_line(r.failed == 0, r.attempted, r.failed,
                                          {"setup_s": (1.0, "s")}))
    assert line["correct"] is False and line["failed"] == 1


def test_self_time_subtracts_children():
    t = harness.Tracer("r", enabled=True)
    t.spans = [
        {"id": 0, "name": "pass", "layer": "bench", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "dedup.x", "layer": "dedup", "parent": 0, "start": 1.0, "end": 5.0},
        {"id": 2, "name": "dedup.x.exec", "layer": "dedup", "parent": 1, "start": 2.0,
         "end": 4.0},
    ]
    assert t.self_times() == {"bench": 6.0, "dedup": 4.0}


def test_stop_processes_ends_children_and_grandchildren():
    import subprocess

    child = subprocess.Popen(["sh", "-c", "sleep 60 & echo $!; wait"],
                             stdout=subprocess.PIPE, text=True)
    grandchild = int(child.stdout.readline())
    harness.stop_processes(timeout=0.5)
    assert not os.path.exists(f"/proc/{child.pid}")
    assert not harness._alive(grandchild)
    child.stdout.close()
