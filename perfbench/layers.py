"""Per-layer probes for the traced run, all driven from outside the package.

- ``Tracer``: spans (name, start, end, parent) kept in memory and written out
  when the run ends.
- ``replay_kernels``: the per-document Python work of the KG chain on one
  core, no Spark, timed per kernel (``scorers/`` and ``functions/``).
- ``stage_spans``: each public stage call of ``plans/pipeline.run_pipeline``
  materialized once from the checkpointed output of the stage before it,
  plus a stage-table write and read through ``sources/catalog``.
- ``cpu_sample``/``cpu_delta``: CPU seconds of the driver JVM and,
  separately, of the Python worker processes it starts, read from ``/proc``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import functions as F

from research_on_document_level_person_relation_extraction_in_chinese_spark.functions.analysis import (
    expansion_pairs,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.functions.chinese import s2t
from research_on_document_level_person_relation_extraction_in_chinese_spark.functions.parse import (
    HAS_RELATION,
    parse_five_class_answers,
    parse_triples,
    parse_verdicts,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.operators.expansion import (
    expansion_stage,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.operators.fused import (
    annotate_parse_stage,
    fused_consensus_stage,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.operators.graph import (
    build_edges,
    build_nodes,
    check_graph_consistency,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.operators.linking import (
    link_entities,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.operators.taxonomy import (
    build_taxonomy,
    remap_relations,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.plans.pipeline import (
    triples_from_expanded,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.scorers import get_scorer
from research_on_document_level_person_relation_extraction_in_chinese_spark.sources.catalog import (
    StageCatalog,
)

from .inputs import triple_digest

ANNOTATORS = ("gemini", "gpt")


_CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, int, int, int] | None:
    """(parent pid, start time, own CPU ticks, CPU ticks of reaped
    children) of one process, or None if it has gone."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # fields[0] is field 3 of proc(5): state; ppid is 4, utime..cstime
    # are 14..17, starttime is 22
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return int(fields[1]), int(fields[19]), utime + stime, cutime + cstime


def cpu_sample(jvm_pid: int) -> tuple[int, dict[tuple[int, int], int]]:
    """CPU ticks of the driver JVM (every thread: tasks, GC, JIT,
    scheduler), and of each of its descendant processes, the Python daemon
    and workers, keyed by (pid, start time)."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                stats[int(pid)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in stats.items():
        children.setdefault(ppid, []).append(pid)
    workers = {}
    stack = list(children.get(jvm_pid, ()))
    while stack:
        pid = stack.pop()
        _ppid, start, own, reaped = stats[pid]
        workers[(pid, start)] = own + reaped
        stack.extend(children.get(pid, ()))
    return stats[jvm_pid][2], workers


def cpu_delta(before, after) -> dict[str, float]:
    """CPU seconds between two ``cpu_sample``s. A worker counts what it
    used since the earlier sample, or all of it if it started in between.
    A worker that exits between the samples is not counted; Python workers
    are reused across tasks and outlive a pass."""
    jvm0, py0 = before
    jvm1, py1 = after
    python = sum(t - py0.get(key, 0) for key, t in py1.items())
    return {
        "jvm.cpu_s": (jvm1 - jvm0) / _CLOCK_TICKS,
        "python.time_s": python / _CLOCK_TICKS,
    }


@dataclass
class Span:
    name: str
    start: float
    parent: str | None
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.perf_counter(), self._open[-1].name if self._open else None)
        self._open.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            self.spans.append(s)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(
                [
                    {"name": s.name, "parent": s.parent, "start": s.start, "end": s.end}
                    for s in self.spans
                ],
                f,
                indent=1,
            )


def replay_kernels(texts: list[str]) -> dict[str, float]:
    """Seconds spent in each kernel while replaying the chain's per-document
    Python work (annotate + parse, trad conversion + cross-check + verify,
    NER + expansion) over ``texts`` on one core."""
    mod = get_scorer("deterministic")
    t = dict.fromkeys(
        (
            "scorers.detect_s",
            "scorers.verify_s",
            "scorers.ner_s",
            "scorers.expansion_s",
            "functions.parse_s",
            "functions.s2t_s",
        ),
        0.0,
    )
    clock = time.perf_counter
    start = clock()
    for text in texts:
        trad: dict[str, list] = {}
        for ann in ANNOTATORS:
            c0 = clock()
            status, output, _attempts = mod.score_detect_with_attempts(text, ann)
            c1 = clock()
            triples = []
            if status == HAS_RELATION:
                parsed, _rels, _ents, err = parse_triples(output, tolerant=True)
                triples = [] if err else parsed
            c2 = clock()
            out = []
            for s, o, r in triples:
                lo, hi = sorted([s2t(s), s2t(o)])
                key = (lo, hi, s2t(r))
                if key not in out:
                    out.append(key)
            trad[ann] = out
            c3 = clock()
            t["scorers.detect_s"] += c1 - c0
            t["functions.parse_s"] += c2 - c1
            t["functions.s2t_s"] += c3 - c2
        consensus = []
        for ann in ANNOTATORS:
            theirs = {x for other in ANNOTATORS if other != ann for x in trad[other]}
            wrong = [x for x in trad[ann] if x not in theirs]
            consensus.extend(x for x in trad[ann] if x in theirs)
            if wrong:
                c0 = clock()
                answer = mod.score_verify(text, wrong)
                c1 = clock()
                verdicts = parse_verdicts(answer, len(wrong))
                t["scorers.verify_s"] += c1 - c0
                t["functions.parse_s"] += clock() - c1
                consensus.extend(w for w, ok in zip(wrong, verdicts or []) if ok)
        if not consensus:
            continue
        c0 = clock()
        trad_text = s2t(text)
        c1 = clock()
        ents = mod.score_ner(trad_text)
        c2 = clock()
        already = {(s, o) for ann in ANNOTATORS for s, o, _r in trad[ann]}
        density, extra = expansion_pairs(ents, already, trad_text)
        if density == "middle" and extra:
            answer = mod.score_expansion_pairs(trad_text, extra)
            c3 = clock()
            parse_five_class_answers(answer, len(extra))
            t["functions.parse_s"] += clock() - c3
        else:
            c3 = clock()
        t["functions.s2t_s"] += c1 - c0
        t["scorers.ner_s"] += c2 - c1
        t["scorers.expansion_s"] += c3 - c2
    t["kernels.total_s"] = clock() - start
    return t


def _materialize(df):
    return df.localCheckpoint(eager=True)


def stage_spans(spark, docs, expected: tuple[int, int], catalog_root: str, tracer: Tracer) -> tuple[dict, list[bool]]:
    """Time each public stage of ``run_pipeline`` on its own, then write and
    read the expanded stage table through ``StageCatalog``. Returns the
    per-layer values and the outcome of two checks: the stage-by-stage
    triples equal the expected digest, and the graph has no dangling edge
    endpoints."""
    out: dict[str, float] = {}

    def timed(metric: str, fn):
        with tracer.span(metric) as s:
            res = fn()
        out[metric] = s.seconds
        return res

    zh = _materialize(docs.filter(F.col("lang") == "zh").select("url", "text"))
    parsed = timed("stage.annotate_s", lambda: _materialize(annotate_parse_stage(zh)))
    remapped = timed(
        "stage.taxonomy_s",
        lambda: _materialize(remap_relations(parsed, build_taxonomy(parsed))),
    )
    cons = timed("stage.consensus_s", lambda: _materialize(fused_consensus_stage(remapped)))
    cons_docs = cons.filter(F.size("consensus_label") > 0)
    expanded = timed("stage.expansion_s", lambda: _materialize(expansion_stage(cons_docs)))
    triples = timed("stage.triples_s", lambda: _materialize(triples_from_expanded(expanded)))
    linked = timed("stage.linking_s", lambda: _materialize(link_entities(expanded)))

    def graph():
        nodes = _materialize(build_nodes(linked))
        return nodes, _materialize(build_edges(triples, linked, nodes))

    nodes, edges = timed("stage.graph_s", graph)

    catalog = StageCatalog(catalog_root)
    timed("catalog.write_s", lambda: catalog.write_stage(expanded, "expanded", inputs=["consensus"]))
    timed(
        "catalog.read_s",
        lambda: catalog.read_stage(spark, "expanded").write.mode("overwrite").format("noop").save(),
    )
    out["catalog.bytes_written"] = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(catalog_root)
        for f in files
    )
    out["linking.mentions"] = linked.count()
    consistency = check_graph_consistency(nodes, edges)
    out["graph.nodes"] = consistency["n_nodes"]
    out["graph.edges"] = consistency["n_edges"]
    checks = [triple_digest(triples) == expected, consistency["dangling_endpoints"] == 0]
    return out, checks
