"""Seeded benchmark inputs and the expected outputs they are checked against.

Every input is a pure function of ``--seed``; the package only ever sees the
generated tables. Expected outputs come from code outside the Spark plan under
test: the plain-Python reference port for the KG workloads, and a brute-force
Jaccard over the collected texts for ``near_dup``.
"""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal
from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from research_on_document_level_person_relation_extraction_in_chinese_spark.plans.reference_port import (
    run_reference_logic,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.sources.corpus import (
    generate_corpus,
)

TRIPLE_SCHEMA = "url string, subj string, obj string, rel string"
_DIGEST_MOD = 2_147_483_647

#: the shape of ``sources.corpus.generate_open_vocab_docs`` at its defaults
TOKENS_PER_DOC = 60
VOCAB_GROUPS = 50
GROUP_VOCAB = 31
#: shingle width of ``operators.dedup.char_shingles`` at its default
SHINGLE_N = 3


def kg_corpus(spark, n_docs: int, seed: int) -> DataFrame:
    """The synthetic web-page corpus in the package's default partitioning,
    materialized (checkpointed) so that a timed pass never includes
    generating it."""
    df = generate_corpus(spark, n_docs, seed=seed).localCheckpoint()
    df.count()
    return df


def write_stream_backlog(spark, out_dir: str, n_docs: int, seed: int, docs_per_file: int) -> None:
    """The same corpus as many small parquet files, one per contiguous id
    range. File modification times are spaced one second apart in id order,
    so the file source takes them in the same order on every run."""
    n_files = max(1, n_docs // docs_per_file)
    generate_corpus(spark, n_docs, seed=seed, partitions=n_files).write.parquet(out_dir)
    files = sorted(f for f in os.listdir(out_dir) if f.endswith(".parquet"))
    for i, name in enumerate(files):
        os.utime(os.path.join(out_dir, name), (1_700_000_000 + i, 1_700_000_000 + i))


def reference_triples(docs: list[dict]) -> set[tuple[str, str, str, str]]:
    """The triple set the reference logic emits for ``docs``, the
    ``sources.corpus.make_doc`` records of the generated corpus."""
    return set(run_reference_logic(docs)["merge"])


def triple_digest(df: DataFrame) -> tuple[int, int]:
    """(row count, sum of row hashes): an order-free digest of a distinct
    triple set, computed by Spark so a pass ships no rows to the driver."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64("url", "subj", "obj", "rel"), F.lit(_DIGEST_MOD))).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def expected_digest(spark, triples: set[tuple[str, str, str, str]]) -> tuple[int, int]:
    return triple_digest(spark.createDataFrame(sorted(triples), TRIPLE_SCHEMA))


def open_vocab_docs(spark, n_docs: int, seed: int, partitions: int) -> DataFrame:
    """``(doc_id, grp, text)`` with the structure of
    ``sources.corpus.generate_open_vocab_docs``: quads of near-duplicates
    whose token j is ``md5(group:pick)[:4]`` with ``pick = md5(quad:j) %
    31``, so the 50 vocabulary groups each share a 31-token vocabulary, plus
    a 12-character per-doc tail. The seed is mixed into every hash because
    that generator takes none. Materialized like ``kg_corpus``."""
    salt = F.lit(str(seed))
    quad = (F.col("id") - F.col("id") % 4).cast("string")
    grp = (F.col("id") - F.col("id") % 4) % VOCAB_GROUPS

    def token(j):
        pick = F.conv(F.substring(F.md5(F.concat_ws(":", salt, quad, j.cast("string"))), 1, 8), 16, 10)
        pick = (pick.cast("long") % GROUP_VOCAB).cast("string")
        return F.substring(F.md5(F.concat_ws(":", salt, grp.cast("string"), pick)), 1, 4)

    body = F.array_join(F.transform(F.sequence(F.lit(0), F.lit(TOKENS_PER_DOC - 1)), token), "")
    tail = F.substring(F.md5(F.concat_ws(":", F.lit("tail"), salt, F.col("id").cast("string"))), 1, 12)
    df = (
        spark.range(0, n_docs, numPartitions=partitions)
        .select(
            F.col("id").alias("doc_id"),
            grp.cast("int").alias("grp"),
            F.concat(body, tail).alias("text"),
        )
        .localCheckpoint()
    )
    df.count()
    return df


def shingles(text: str) -> frozenset[str]:
    """Python twin of ``operators.dedup.char_shingles``."""
    n = SHINGLE_N
    return frozenset(text[i : i + n] for i in range(len(text) - n + 1))


def jaccard(a: frozenset[str], b: frozenset[str]) -> float:
    """Jaccard rounded to 4 places the way Spark's ``round`` does it: half
    up, on the shortest decimal form of the double (137/160 = 0.85625 ->
    0.8563, where Python's ``round`` gives 0.8562)."""
    value = Decimal(repr(len(a & b) / len(a | b)))
    return float(value.quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))


def blocked_pairs(docs: list[tuple[int, int, str]], threshold: float) -> dict[tuple[int, int], float]:
    """All within-block pairs with Jaccard >= threshold, by brute force."""
    blocks: dict[int, list[tuple[int, frozenset[str]]]] = {}
    for doc_id, grp, text in docs:
        blocks.setdefault(grp, []).append((doc_id, shingles(text)))
    out = {}
    for members in blocks.values():
        for (a, sa), (b, sb) in combinations(sorted(members), 2):
            j = jaccard(sa, sb)
            if j >= threshold:
                out[(a, b)] = j
    return out
