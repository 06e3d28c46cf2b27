"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload kg_extract --seed 1 --seconds 8 --trace 0

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Workloads, metrics and the layer map are described in perfbench/README.md.

Everything the run writes (Spark local dirs, temp files, stream and catalog
directories) lives under ``.perfbench/`` in the working directory and is
removed at exit; traced runs also leave their spans in
``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "2g"


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cores",
        type=int,
        default=len(os.sched_getaffinity(0)),
        help="local[N] parallelism (default: the CPUs this process may use)",
    )
    return ap.parse_args(argv)


def _isolate(scratch: str) -> None:
    """Point every temp and spill directory of the driver, the JVM and the
    Python workers into ``scratch``; make the package importable by workers."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    tmp = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = tmp


def _jvm_peak_rss_mb(spark) -> float:
    """``VmHWM`` of the driver JVM: the peak resident set since it started."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _jvm_live_heap_mb(spark) -> float:
    """Driver-JVM heap in use right after a full collection: what the run
    keeps in memory (input and cached blocks, retained plans and status
    data). Read after the warm-up passes, so every run has done the same work
    when it is read.

    Python's collector runs first, so the py4j proxies of finished plans let
    go of their JVM objects. The first full collection queues Spark's
    asynchronous cleanup of the shuffles, broadcasts and blocks those
    objects owned; the second, a second later, frees what that cleanup
    released. After a single collection, runs of ``kg_extract`` read
    between 164 and 326 MB; after this sequence they agree within 2%."""
    jvm = spark._jvm
    gc.collect()
    jvm.System.gc()
    time.sleep(1)
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def _shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _measure(wl, seconds: float, trace: bool, tracer) -> list:
    """Timed passes until ``seconds`` have elapsed (at least one). With
    ``trace``, untraced and traced passes alternate (at least one of each),
    so that JIT warm-up still under way lands on both alike."""
    passes = []
    deadline = time.perf_counter() + seconds
    while len(passes) < 1 + trace or time.perf_counter() < deadline:
        traced = trace and len(passes) % 2 == 1
        with tracer.span("traced_pass" if traced else "pass"):
            p = wl.run_pass(traced)
        print(
            f"{wl.name} pass {len(passes) + 1}: {p.seconds:.3f} s ok={p.ok} traced={p.traced}",
            file=sys.stderr,
        )
        passes.append(p)
    return passes


def _median(values) -> float:
    return float(statistics.median(values))


def _end_to_end(passes, setup_s: float, heap_mb: float) -> dict[str, float]:
    return {
        "docs_per_s": _median(p.docs / p.seconds for p in passes),
        "outputs_per_s": _median(p.outputs / p.seconds for p in passes),
        "batch_p50_s": _median(x for p in passes for x in p.latencies),
        "setup_s": setup_s,
        "live_heap_mb": heap_mb,
    }


#: end-to-end metrics (``--trace 0``) and their units
END_TO_END = {
    "docs_per_s": "docs/s",
    "outputs_per_s": "rows/s",
    "batch_p50_s": "s",
    "setup_s": "s",
    "live_heap_mb": "MB",
}

#: per-layer metrics (``--trace 1``) and their units; a layer a workload does
#: not exercise reports 0
PER_LAYER = {
    "scorers.detect_s": "s",
    "scorers.verify_s": "s",
    "scorers.ner_s": "s",
    "scorers.expansion_s": "s",
    "functions.parse_s": "s",
    "functions.s2t_s": "s",
    "kernels.docs_per_s": "docs/s",
    "spark.kernel_efficiency": "ratio",
    "python.nodes": "count",
    "python.rows_in": "count",
    "python.rows_in_per_doc": "ratio",
    "python.bytes_sent": "B",
    "python.bytes_received": "B",
    "python.time_s": "s",
    "plan.jobs": "count",
    "plan.stages": "count",
    "plan.tasks": "count",
    "shuffle.exchanges": "count",
    "shuffle.records": "count",
    "shuffle.bytes": "B",
    "jvm.cpu_s": "s",
    "jvm.peak_rss_mb": "MB",
    "stage.annotate_s": "s",
    "stage.taxonomy_s": "s",
    "stage.consensus_s": "s",
    "stage.expansion_s": "s",
    "stage.triples_s": "s",
    "stage.linking_s": "s",
    "stage.graph_s": "s",
    "pipeline.run_s": "s",
    "pipeline.jobs": "count",
    "catalog.write_s": "s",
    "catalog.read_s": "s",
    "catalog.bytes_written": "B",
    "linking.mentions": "count",
    "graph.nodes": "count",
    "graph.edges": "count",
    "stream.batches": "count",
    "stream.add_batch_s": "s",
    "stream.planning_s": "s",
    "stream.commit_s": "s",
    "stream.list_s": "s",
    "dedup.lsh_s": "s",
    "dedup.prefix_s": "s",
    "dedup.candidates": "count",
    "dedup.lsh_candidates": "count",
    "dedup.prefix_candidates": "count",
    "dedup.pairs": "count",
    "dedup.useful_ratio": "ratio",
    "dedup.max_block_docs": "count",
    "scaling.kg_n_to_4n": "ratio",
    "setup.session_s": "s",
    "setup.input_s": "s",
    "setup.warmup_s": "s",
    "trace.docs_per_s": "docs/s",
    "trace.untraced_docs_per_s": "docs/s",
    "trace.overhead": "ratio",
}


def _scaling_child(args, cores: int) -> tuple[float, tuple[int, int]]:
    """``docs_per_s`` and output digest of ``kg_extract`` at ``local[cores]``
    in a fresh JVM (``perfbench/scaling.py``)."""
    cmd = [sys.executable, "-m", "perfbench.scaling", "--seed", str(args.seed), "--cores", str(cores)]
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=150, check=True)
    out = json.loads(res.stdout.strip().splitlines()[-1])
    return out["docs_per_s"], tuple(out["digest"])


def run(args, scratch: str) -> dict:
    sys.path.insert(0, ROOT)
    from perfbench.layers import Tracer
    from perfbench.workloads import WORKLOADS
    from research_on_document_level_person_relation_extraction_in_chinese_spark import get_spark

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, os.path.join(scratch, "data"))
        t0 = time.perf_counter()
        wl.prepare()
        input_s = time.perf_counter() - t0
        wl.expect()
        warm = [wl.run_pass() for _ in range(wl.warmup_passes)]
        warmup_s = sum(p.seconds for p in warm)
        setup_s = session_s + input_s + warmup_s
        heap_mb = _jvm_live_heap_mb(spark)
        tracer = Tracer()
        passes = _measure(wl, args.seconds, bool(args.trace), tracer)
        untraced = [p for p in passes if not p.traced]
        peak_rss_mb = _jvm_peak_rss_mb(spark)
        metrics = _end_to_end(untraced, setup_s, heap_mb)
        checks = [p.ok for p in warm + passes]
        if args.trace:
            traced = [p for p in passes if p.traced]
            probes, probe_checks = wl.layer_probes(tracer)
            checks += probe_checks
            layers = {
                "setup.session_s": session_s,
                "setup.input_s": input_s,
                "setup.warmup_s": warmup_s,
                "jvm.peak_rss_mb": peak_rss_mb,
                "trace.untraced_docs_per_s": metrics["docs_per_s"],
                "trace.docs_per_s": _median(p.docs / p.seconds for p in traced),
            }
            layers["trace.overhead"] = layers["trace.untraced_docs_per_s"] / layers["trace.docs_per_s"] - 1
            for key in sorted({k for p in traced for k in p.layers}):
                layers[key] = _median(p.layers[key] for p in traced if key in p.layers)
            layers.update(probes)
            tracer.dump(os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"))
            metrics = layers
    finally:
        _shutdown(spark)
    if args.trace:
        derived, derived_checks = _derived_layers(args, metrics, getattr(wl, "expected", None))
        metrics.update(derived)
        checks += derived_checks
        metrics = {k: metrics.get(k, 0.0) for k in PER_LAYER}
    units = PER_LAYER if args.trace else END_TO_END
    failed = checks.count(False)
    return {
        "correct": failed == 0,
        "attempted": len(checks),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def _derived_layers(args, m: dict, expected) -> tuple[dict[str, float], list[bool]]:
    out, checks = {}, []
    if "kernels.docs_per_s" in m:
        out["spark.kernel_efficiency"] = m["trace.untraced_docs_per_s"] / (
            args.cores * m["kernels.docs_per_s"]
        )
    if m.get("dedup.candidates"):
        out["dedup.useful_ratio"] = m["dedup.pairs"] / m["dedup.candidates"]
    if args.workload == "kg_extract" and args.cores >= 4:
        # N -> 4N throughput efficiency, both sides in fresh JVMs: this
        # run's untraced passes at local[cores], a child run at local[cores/4]
        lo = args.cores // 4
        lo_docs_per_s, digest = _scaling_child(args, lo)
        out["scaling.kg_n_to_4n"] = m["trace.untraced_docs_per_s"] / ((args.cores / lo) * lo_docs_per_s)
        checks.append(digest == expected)
    return out, checks


def main(argv=None) -> int:
    args = _parse_args(argv)
    scratch = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    _isolate(scratch)
    try:
        result = run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
