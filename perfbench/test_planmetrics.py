"""Tests of the benchmark's plan-metric reader.

    python -m pytest perfbench/test_planmetrics.py -q

The Spark test pins today's exact Python-boundary counts of
``extract_triples`` on a 500-document corpus. They are the counts the
ROADMAP's D1 item will change (every Python node evaluated twice, the
annotate node three times without the cache), so that change has to show up
here as a new pinned count.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench.planmetrics import Node, PlanRecorder, summarize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_summarize_counts_python_shuffle_and_candidate_joins():
    nodes = [
        Node("ArrowEvalPythonExec", {"pythonNumRowsReceived": 10, "pythonDataSent": 100,
                                     "pythonDataReceived": 50}),
        Node("MapInPandasExec", {"pythonNumRowsReceived": 5}),
        Node("ShuffleExchangeExec", {"shuffleRecordsWritten": 7, "shuffleBytesWritten": 70}),
        Node("SortMergeJoinExec", {"numOutputRows": 40}, frozenset({"band", "bsig"})),
        Node("SortMergeJoinExec", {"numOutputRows": 30}, frozenset({"blk", "sh"})),
        Node("BroadcastHashJoinExec", {"numOutputRows": 99}, frozenset({"sh"})),
    ]  # fmt: skip
    s = summarize(nodes)
    assert s["python.nodes"] == 2
    assert s["python.rows_in"] == 15
    assert (s["python.bytes_sent"], s["python.bytes_received"]) == (100, 50)
    assert (s["shuffle.exchanges"], s["shuffle.records"], s["shuffle.bytes"]) == (1, 7, 70)
    assert (s["dedup.lsh_candidates"], s["dedup.prefix_candidates"]) == (40, 30)


def test_benchmark_json_matches_the_harness():
    from perfbench.run import END_TO_END, PER_LAYER
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


@pytest.fixture(scope="module")
def spark():
    from research_on_document_level_person_relation_extraction_in_chinese_spark import get_spark

    s = get_spark("perfbench-test", cores=4)
    yield s
    s.stop()


@pytest.mark.parametrize(
    "cache, nodes, rows_in",
    [
        # annotate 402 rows (cached, counted once), then consensus 197 and
        # expansion 188 rows, each evaluated twice
        (True, 5, 1172),
        # annotate three times: 402 rows in the taxonomy job, 402 and 188 in
        # the main plan; consensus and expansion twice each as above
        (False, 7, 1762),
    ],
)
def test_extract_triples_python_boundary_counts(spark, cache, nodes, rows_in):
    from research_on_document_level_person_relation_extraction_in_chinese_spark.plans.pipeline import (
        extract_triples,
    )
    from research_on_document_level_person_relation_extraction_in_chinese_spark.sources.corpus import (
        generate_corpus,
    )

    corpus = generate_corpus(spark, 500, seed=7).localCheckpoint()
    spark.catalog.clearCache()
    recorder = PlanRecorder(spark)
    try:
        recorder.take()
        n = extract_triples(corpus, cache=cache).count()
        found = recorder.nodes()
    finally:
        recorder.close()
    names = {node.name for node in found}
    assert "AdaptiveSparkPlanExec" not in names
    assert not any(name.endswith("QueryStageExec") for name in names)
    s = summarize(found)
    assert n == 352
    assert (s["python.nodes"], s["python.rows_in"]) == (nodes, rows_in)
