"""The benchmark workloads. Each one materializes its seeded input, computes
the expected output outside the plan under test, and runs timed passes
through a public entry point of the package.

A pass is one unit of work timed end to end and checked afterwards:

- ``kg_extract``: ``plans.pipeline.extract_triples`` over the whole corpus.
- ``kg_microbatch``: one ``streaming.ingest.stream_extract_triples`` drain of
  the whole backlog of small files (closed loop: the stream takes the next
  four files only after the previous batch commits).
- ``kg_build``: ``plans.pipeline.run_pipeline`` with a fresh ``StageCatalog``.
- ``near_dup``: ``operators.dedup.minhash_lsh_pairs`` then
  ``ngram_jaccard_pairs`` (prefix filter) over an open-vocabulary table.

Before every pass the Spark cache is cleared, which also drops the blocks the
package's managed persist pools keep, and every pass writes to fresh
directories that are removed after its check.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

from research_on_document_level_person_relation_extraction_in_chinese_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.operators.graph import (
    check_graph_consistency,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.plans.pipeline import (
    extract_triples,
    run_pipeline,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.sources.catalog import (
    StageCatalog,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.sources.corpus import (
    make_doc,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.streaming.ingest import (
    stream_extract_triples,
)

from . import inputs
from .layers import Tracer, cpu_delta, cpu_sample, replay_kernels, stage_spans
from .planmetrics import PlanRecorder, job_counts, summarize


@dataclass
class Pass:
    """One timed unit of work. ``latencies`` are its batch durations: the
    micro-batches of a stream drain, else the pass itself."""

    seconds: float
    docs: int
    outputs: int
    latencies: list[float]
    ok: bool
    layers: dict[str, float] = field(default_factory=dict)
    job_group: str | None = None
    traced: bool = False


def _partitions(spark) -> int:
    """``near_dup`` input partitions: two equal waves of tasks per core, the
    shape of the package's default at this size."""
    return 2 * spark.sparkContext.defaultParallelism


def _median_ms(progress: list[dict], *keys: str) -> float:
    """Median over micro-batches of the summed ``durationMs`` entries, in s."""
    return statistics.median(sum(q["durationMs"].get(k, 0) for k in keys) for q in progress) / 1000


class Workload:
    name = ""
    n_docs = 0
    #: untimed passes before the timed ones, counted in set-up time
    warmup_passes = 1

    def __init__(self, spark, seed: int, scratch: str):
        self.spark = spark
        self.seed = seed
        self.scratch = scratch
        self._n_pass = 0

    def prepare(self) -> None:
        """Generate and materialize the input (counted in set-up time)."""
        raise NotImplementedError

    def expect(self) -> None:
        """Compute the expected output (the checker's cost, not set-up)."""
        raise NotImplementedError

    def run_pass(self, traced: bool = False) -> Pass:
        """One timed pass. A traced pass also reads the plan metrics of every
        action it ran, its job counts and the CPU time of the JVM and the
        Python workers into ``Pass.layers``."""
        self.spark.catalog.clearCache()
        self._n_pass += 1
        if not traced:
            return self._timed_pass()
        group = f"perfbench-{self.name}-{self._n_pass}"
        sc = self.spark.sparkContext
        jvm_pid = sc._gateway.proc.pid
        recorder = PlanRecorder(self.spark)
        try:
            sc.setJobGroup(group, f"perfbench {self.name} pass")
            before = cpu_sample(jvm_pid)
            p = self._timed_pass()
            after = cpu_sample(jvm_pid)
            sc.setJobGroup(None, None)
            p.layers.update(summarize(recorder.nodes()))
            p.layers.update(cpu_delta(before, after))
        finally:
            recorder.close()
        p.traced = True
        p.layers.update(job_counts(self.spark, p.job_group or group))
        p.layers["python.rows_in_per_doc"] = p.layers["python.rows_in"] / p.docs
        p.layers["dedup.candidates"] = (
            p.layers["dedup.lsh_candidates"] + p.layers["dedup.prefix_candidates"]
        )
        return p

    def _timed_pass(self) -> Pass:
        raise NotImplementedError

    def layer_probes(self, tracer: Tracer) -> tuple[dict[str, float], list[bool]]:
        """Per-layer values measured outside the passes, and extra checks."""
        return {}, []

    def _dir(self, name: str) -> str:
        path = os.path.join(self.scratch, f"{name}-{self._n_pass}")
        shutil.rmtree(path, ignore_errors=True)
        return path


class _KGWorkload(Workload):
    def expect(self) -> None:
        """The reference digest, and the Chinese texts the kernel replay
        runs over."""
        docs = [make_doc(i, self.seed)[0] for i in range(self.n_docs)]
        self.zh_texts = [d["text"] for d in docs if d["lang"] == "zh"]
        self.expected = inputs.expected_digest(self.spark, inputs.reference_triples(docs))

    def kernel_probe(self) -> dict[str, float]:
        k = replay_kernels(self.zh_texts)
        k["kernels.docs_per_s"] = self.n_docs / k.pop("kernels.total_s")
        return k


class KGExtract(_KGWorkload):
    name = "kg_extract"
    n_docs = 12000
    # the JIT keeps shortening passes through the third one (about 2.2x,
    # 1.2x, 1.05x the steady pass time), so the timed passes start there
    warmup_passes = 2

    def prepare(self) -> None:
        self.corpus = inputs.kg_corpus(self.spark, self.n_docs, self.seed)

    def _timed_pass(self) -> Pass:
        t0 = time.perf_counter()
        got = inputs.triple_digest(extract_triples(self.corpus))
        sec = time.perf_counter() - t0
        return Pass(sec, self.n_docs, got[0], [sec], got == self.expected)

    def layer_probes(self, tracer: Tracer):
        with tracer.span("kernels"):
            return self.kernel_probe(), []


class KGMicrobatch(_KGWorkload):
    name = "kg_microbatch"
    n_docs = 2000
    docs_per_file = 125

    def prepare(self) -> None:
        self.backlog = os.path.join(self.scratch, "backlog")
        shutil.rmtree(self.backlog, ignore_errors=True)
        inputs.write_stream_backlog(
            self.spark, self.backlog, self.n_docs, self.seed, self.docs_per_file
        )

    def _timed_pass(self) -> Pass:
        out, ckpt = self._dir("out"), self._dir("checkpoint")
        t0 = time.perf_counter()
        query = stream_extract_triples(self.spark, self.backlog, out, ckpt)
        sec = time.perf_counter() - t0
        progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        got = inputs.triple_digest(
            self.spark.read.parquet(out).select("url", "subj", "obj", "rel")
        )
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        latencies = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
        ok = got == self.expected
        p = Pass(sec, self.n_docs, got[0], latencies, ok, job_group=str(query.runId))
        p.layers = {
            "stream.batches": len(progress),
            "stream.add_batch_s": _median_ms(progress, "addBatch"),
            "stream.planning_s": _median_ms(progress, "queryPlanning"),
            "stream.commit_s": _median_ms(progress, "walCommit", "commitOffsets"),
            "stream.list_s": _median_ms(progress, "latestOffset"),
        }
        return p

    def layer_probes(self, tracer: Tracer):
        with tracer.span("kernels"):
            return self.kernel_probe(), []


class KGBuild(_KGWorkload):
    name = "kg_build"
    n_docs = 2000

    def prepare(self) -> None:
        self.corpus = inputs.kg_corpus(self.spark, self.n_docs, self.seed)

    def _timed_pass(self) -> Pass:
        """``run_pipeline`` runs in a job group of its own, so the pass's job
        counts leave out the checks that follow it."""
        catalog = StageCatalog(self._dir("catalog"))
        group = f"perfbench-{self.name}-run_pipeline-{self._n_pass}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, "perfbench run_pipeline")
        t0 = time.perf_counter()
        run_pipeline(self.spark, self.corpus, catalog=catalog)
        sec = time.perf_counter() - t0
        sc.setJobGroup(None, None)
        got = inputs.triple_digest(catalog.read_stage(self.spark, "triples"))
        graph = check_graph_consistency(
            catalog.read_stage(self.spark, "nodes"), catalog.read_stage(self.spark, "edges")
        )
        shutil.rmtree(catalog.root, ignore_errors=True)
        ok = got == self.expected and graph["dangling_endpoints"] == 0
        p = Pass(sec, self.n_docs, got[0], [sec], ok, job_group=group)
        p.layers = {"graph.nodes": graph["n_nodes"], "graph.edges": graph["n_edges"]}
        return p

    def layer_probes(self, tracer: Tracer):
        with tracer.span("kernels"):
            return self.kernel_probe(), []


class NearDup(Workload):
    name = "near_dup"
    n_docs = 1000
    threshold = 0.6

    def prepare(self) -> None:
        self.docs = inputs.open_vocab_docs(self.spark, self.n_docs, self.seed, _partitions(self.spark))

    def expect(self) -> None:
        rows = [(r["doc_id"], r["grp"], r["text"]) for r in self.docs.collect()]
        self.shingles = {doc_id: inputs.shingles(text) for doc_id, _g, text in rows}
        self.expected = inputs.blocked_pairs(rows, self.threshold)
        self.max_block_docs = max(Counter(grp for _d, grp, _t in rows).values())

    def _timed_pass(self) -> Pass:
        t0 = time.perf_counter()
        lsh = minhash_lsh_pairs(self.docs, verify="inverted", threshold=self.threshold).collect()
        t1 = time.perf_counter()
        prefix = ngram_jaccard_pairs(
            self.docs, block_col="grp", strategy="prefix", threshold=self.threshold
        ).collect()
        t2 = time.perf_counter()
        lsh_pairs = {(r["a_id"], r["b_id"]): r["jaccard"] for r in lsh}
        prefix_pairs = {(r["a_id"], r["b_id"]): r["jaccard"] for r in prefix}
        recomputed_ok = all(
            j >= self.threshold and inputs.jaccard(self.shingles[a], self.shingles[b]) == j
            for pairs in (lsh_pairs, prefix_pairs)
            for (a, b), j in pairs.items()
        )
        ok = (
            prefix_pairs == self.expected
            and lsh_pairs.keys() <= prefix_pairs.keys()
            and recomputed_ok
        )
        n_pairs = len(lsh_pairs) + len(prefix_pairs)
        p = Pass(t2 - t0, self.n_docs, n_pairs, [t2 - t0], ok)
        p.layers = {
            "dedup.lsh_s": t1 - t0,
            "dedup.prefix_s": t2 - t1,
            "dedup.pairs": n_pairs,
            "dedup.max_block_docs": self.max_block_docs,
        }
        return p

    def layer_probes(self, tracer: Tracer):
        """The ``kg_build`` and ``kg_microbatch`` layers (``kg_side_probes``).
        They run here, not in the traced ``kg_extract`` run, because that run
        already spends most of its time limit on its own passes and the
        ``local[1]`` scaling run."""
        return kg_side_probes(self.spark, self.seed, self.scratch, tracer)


def kg_side_probes(spark, seed: int, scratch: str, tracer: Tracer):
    """The layers only ``kg_build`` and ``kg_microbatch`` exercise, each run
    once on a 1,000-doc input of its own: the stage spans and one
    ``run_pipeline`` pass on a ``kg_build`` corpus, and one stream drain of
    a two-batch backlog. Returns the per-layer values and their checks."""
    build = KGBuild(spark, seed, os.path.join(scratch, "probe-build"))
    build.n_docs = 1000
    build.prepare()
    build.expect()
    with tracer.span("stages"):
        values, checks = stage_spans(spark, build.corpus, build.expected, build._dir("stages"), tracer)
    with tracer.span("run_pipeline"):
        pipeline = build.run_pass()
    values["pipeline.run_s"] = pipeline.seconds
    values["pipeline.jobs"] = job_counts(spark, pipeline.job_group)["plan.jobs"]
    with tracer.span("stream"):
        stream = KGMicrobatch(spark, seed, os.path.join(scratch, "probe-stream"))
        stream.n_docs = 1000
        stream.prepare()
        stream.expect()
        drain = stream.run_pass()
    values.update(drain.layers)
    return values, checks + [pipeline.ok, drain.ok]


WORKLOADS = {w.name: w for w in (KGExtract, KGMicrobatch, KGBuild, NearDup)}
