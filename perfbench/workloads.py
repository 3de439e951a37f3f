"""The benchmark workloads, composed from the library's public
calls exactly as a user would compose them.

Each workload has a ``setup`` (session start plus one-off program
set-up, timed as ``setup_s``) and a ``step`` (one unit of measured work:
a pipeline pass over the whole input for the batch workloads, one
micro-batch for the closed-loop ingest). Every library call runs inside
``Run.stage`` under its ``<layer>.<stage>`` name. Batch stages are
computed once and counted (see :func:`materialize`), so each stage's
execution is timed on its own and the funnel counts a curation user reads
come for free.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
from typing import Any

import gen
import pyarrow.parquet as pq
from harness import Run

# generator parameters, recorded in BENCHMARK.json's "why" lines
CURATE = dict(n_docs=600, exact_dup_share=0.10, near_dup_share=0.10,
              boilerplate_share=0.30)
INGEST = dict(base=1000, batch=200, dup_share=0.10, compact_every=3)


def start_session(work: str) -> Any:
    """Start Spark through the library's ``get_spark`` with every
    temporary location inside the benchmark's work directory."""
    from dataprocessingframework_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "spark-local"),
            # a fixed-size heap, so peak RSS tracks the work, not when the
            # collector decided to grow the heap; no perf-counter file in /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
                " -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "10000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Workload:
    name = ""
    loop = "batch"
    setup_reps = 3  # set-ups per run; setup_s is their median
    # the first pass in a fresh JVM compiles everything it runs, and the
    # JIT keeps the next one slow too; 2 untimed passes, then 3 timed
    warmup_steps = 2
    min_steps = 3

    def __init__(self, run: Run, seed: int, work: str) -> None:
        self.run = run
        self.seed = seed
        self.work = work
        self.spark: Any = None
        self.fingerprints: set[str] = set()

    def generate(self) -> None:
        """Write the seeded inputs (not timed)."""

    def setup(self) -> None:
        """One-off program set-up after the session starts (timed)."""

    def step(self) -> int:
        """One unit of measured work; returns the items it processed."""
        raise NotImplementedError

    def finish(self) -> None:
        """Output checks on the final state, after the last step."""

    def throughput(self, items: list[int], step_times: list[float]) -> float:
        """Items per second for a batch pass over the same input: the
        median pass, so one pass slowed by the host does not move it."""
        return items[0] / statistics.median(step_times)

    def check_fingerprint(self, rows: list[Any]) -> None:
        """Every pass over the same input must write the same output."""
        h = hashlib.sha256()
        for r in rows:
            h.update(repr(r).encode())
        self.fingerprints.add(h.hexdigest()[:16])
        self.run.check(f"{self.name}.deterministic_output", len(self.fingerprints) == 1,
                       f"fingerprints {sorted(self.fingerprints)}")


def materialize(out: Any) -> tuple[Any, int]:
    """Compute a stage's result once and cut its lineage
    (``localCheckpoint``), so the next stage plans and runs against the
    stored rows instead of re-planning every stage before it. Returns the
    materialized Dataset or DataFrame and its row count."""
    from dataprocessingframework_spark.dataset import Dataset

    df = out.df if isinstance(out, Dataset) else out
    done = df.localCheckpoint(eager=True)
    rows = done.count()
    return (Dataset(done) if isinstance(out, Dataset) else done), rows


# ------------------------------------------------------------ curate_text
class CurateText(Workload):
    name = "curate_text"

    def generate(self) -> None:
        self.corpus = os.path.join(self.work, "corpus")
        self.truth = gen.text_corpus(self.seed, self.corpus, **CURATE)

    def step(self) -> int:
        from pyspark.sql import functions as F

        from dataprocessingframework_spark.dataset import Dataset
        from dataprocessingframework_spark.filters.text_filters import RegexFilter
        from dataprocessingframework_spark.operators.dedup import (
            jaccard_pairs,
            minhash_lsh_candidates,
        )
        from dataprocessingframework_spark.operators.text_analysis import pack_sequences
        from dataprocessingframework_spark.sources.formats import read_table

        run, spark, keep = self.run, self.spark, materialize
        out_dir = os.path.join(self.work, "bins")

        def clean() -> Dataset:
            raw = Dataset(read_table(spark, self.corpus, "parquet"))
            return raw.apply_column_filter(RegexFilter(text_column="text"))

        cleaned = run.stage("filters.regex_clean", clean, keep)

        def gate() -> Dataset:
            docs = Dataset(cleaned.df.select("doc_id", F.col("clean_caption").alias("text")))
            scored = docs.classify_quality()
            return Dataset(docs.df.join(
                scored.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi"))

        gated = run.stage("dataset.quality_gate", gate, keep)
        exact = run.stage(
            "dataset.exact_dedup",
            lambda: gated.drop_duplicates_keep_first(["text"], order_col="doc_id"), keep)
        cand = run.stage(
            "dedup.lsh_candidates",
            lambda: minhash_lsh_candidates(exact.df, "text", "doc_id", num_hashes=16, bands=4),
            keep)

        def verify_exec(pairs: Any) -> tuple[Any, int]:
            pairs, n_pairs = keep(pairs)
            run.samples["dedup.jaccard_verify.pairs"].append(float(n_pairs))
            return keep(exact.df.join(
                pairs.select(F.col("id_b").alias("doc_id")).distinct(), "doc_id", "left_anti"))

        near = run.stage(
            "dedup.jaccard_verify",
            lambda: jaccard_pairs(exact.df, "text", "doc_id", threshold=0.8, candidates=cand),
            verify_exec)
        spanned = run.stage(
            "text_analysis.span_dedup",
            lambda: Dataset(Dataset(near).remove_dup_spans("text", "doc_id", n=8, min_docs=2)
                            .df.select("doc_id", F.col("clean_text").alias("text"))),
            keep)
        chunks = run.stage(
            "text_analysis.chunk",
            lambda: spanned.chunk("text", "doc_id", window=64, stride=48), keep)
        keyed = chunks.df.select(
            F.concat_ws("_", "doc_id", "chunk_id").alias("chunk_key"), "chunk_text")
        packed = run.stage(
            "text_analysis.pack",
            lambda: pack_sequences(keyed, text_col="chunk_text", id_col="chunk_key",
                                   context_len=256, order_col="chunk_key"),
            keep)
        run.stage(
            "sources.write",
            lambda: Dataset(packed.join(keyed, "chunk_key")).write_table(out_dir, "parquet"))
        self._check(gated, exact, out_dir)
        return self.truth["n_docs"]

    def _check(self, gated: Any, exact: Any, out_dir: str) -> None:
        run = self.run
        gated_ids = {r[0] for r in gated.df.select("doc_id").collect()}
        exact_ids = {r[0] for r in exact.df.select("doc_id").collect()}
        expected = gated_ids - set(self.truth["exact_dup_ids"])
        run.check("curate_text.exact_dups_removed", exact_ids == expected,
                  f"kept {len(exact_ids)}, expected {len(expected)}")
        n_cand = run.samples["dedup.lsh_candidates.rows_out"][-1]
        n_pairs = run.samples["dedup.jaccard_verify.pairs"][-1]
        run.samples["dedup.verified_per_candidate"].append(n_pairs / n_cand if n_cand else 0.0)
        t = pq.read_table(out_dir).select(["shard", "bin_id", "chunk_key", "n_tokens", "chunk_text"])
        rows = sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)))
        run.samples["sources.write.rows_out"].append(float(len(rows)))
        self.check_fingerprint(rows)


# -------------------------------------------------------- semantic_ingest
class SemanticIngest(Workload):
    name = "semantic_ingest"
    loop = "closed loop, 1 client"
    setup_reps = 2  # the expensive set-up: the first is JVM-cold, the second warm
    # the set-ups ran the bootstrap path but not the probe-and-append one,
    # so micro-batch 1 warms that up; 2-4 are timed, compaction firing in 2
    warmup_steps = 1
    min_steps = 3
    schema = "vec_id long, embedding array<float>"

    def generate(self) -> None:
        self.stream = gen.VectorStream(self.seed)
        ids, vecs = self.stream.base(INGEST["base"])
        self.base_file = os.path.join(self.work, "base", "base.parquet")
        gen.write_vectors(self.base_file, ids, vecs)
        self.expected_ids = set(ids.tolist())

    def setup(self) -> None:
        from dataprocessingframework_spark.operators.similarity import _ivf_centroids

        st = os.path.join(self.work, "stream")
        shutil.rmtree(st, ignore_errors=True)
        self.src = os.path.join(st, "src")
        self.corpus = os.path.join(st, "corpus")
        self.ckpt = os.path.join(st, "ckpt")
        self.index_path = os.path.join(st, "index")
        os.makedirs(self.src)
        base = self.spark.read.parquet(self.base_file)
        self.cents = self.run.stage(
            "similarity.train_centroids",
            lambda: _ivf_centroids(base, "vec_id", "embedding", 16, iters=2))
        shutil.copy(self.base_file, os.path.join(self.src, "b00000.parquet"))
        self.run.stage("streaming.bootstrap", self._ingest)
        self.batch_id = 1  # the bootstrap committed micro-batch 0

    def throughput(self, items: list[int], step_times: list[float]) -> float:
        """Vectors submitted over the wall time of every batch, the
        compaction batches included."""
        return sum(items) / sum(step_times)

    def _ingest(self) -> int:
        from dataprocessingframework_spark.streaming import incremental_semantic_ingest

        n = incremental_semantic_ingest(
            self.spark, self.src, self.schema, self.corpus, self.ckpt, self.cents,
            threshold=0.95, n_probe=2, src_format="parquet",
            index_table="perfbench_sem_idx", index_path=self.index_path,
            index_sq8=True, compact_every=INGEST["compact_every"])
        if n != 1:
            raise RuntimeError(f"expected one committed micro-batch, got {n}")
        return n

    def step(self) -> int:
        ids, vecs, dups = self.stream.batch(INGEST["batch"], INGEST["dup_share"])
        gen.write_vectors(os.path.join(self.src, f"b{self.batch_id:05d}.parquet"), ids, vecs)
        compacts = (self.batch_id + 1) % INGEST["compact_every"] == 0
        name = "sources.compact_batch" if compacts else "streaming.batch"
        self.run.stage(name, self._ingest)
        # output check: exactly the planted duplicates were dropped
        got = {r[0] for r in self.spark.read.parquet(
            f"{self.corpus}/batch-{self.batch_id}").select("vec_id").collect()}
        fresh = set(ids.tolist()) - dups
        self.run.check("semantic_ingest.dups_dropped", got == fresh,
                       f"batch {self.batch_id}: kept {len(got)}, fresh {len(fresh)}")
        self.run.samples["streaming.batch_dropped"].append(float(len(ids) - len(got)))
        self.run.samples["streaming.batch_planted"].append(float(len(dups)))
        self.expected_ids |= fresh
        self.batch_id += 1
        return len(ids)

    def finish(self) -> None:
        from dataprocessingframework_spark.streaming import read_corpus

        ids = sorted(r[0] for r in read_corpus(self.spark, self.corpus)
                     .select("vec_id").collect())
        self.run.check("semantic_ingest.corpus", set(ids) == self.expected_ids,
                       f"corpus {len(ids)}, expected {len(self.expected_ids)}")
        self.check_fingerprint(ids)


WORKLOADS = {w.name: w for w in (CurateText, SemanticIngest)}
