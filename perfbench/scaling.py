"""Time ``kg_extract`` in a fresh JVM at a given parallelism.

    python3 -m perfbench.scaling --seed 1 --cores 1

Builds the ``kg_extract`` corpus of ``--seed``, runs one untimed warm-up
pass and one timed pass, and prints ``{"docs_per_s", "digest"}`` as its last
line. The traced ``kg_extract`` run starts it for ``scaling.kg_n_to_4n`` in
the environment ``run.py`` sets up, and checks the digest against its own
expected output, so this child computes no reference of its own.
"""

from __future__ import annotations

import argparse
import json
import time

from research_on_document_level_person_relation_extraction_in_chinese_spark import get_spark
from research_on_document_level_person_relation_extraction_in_chinese_spark.plans.pipeline import (
    extract_triples,
)

from . import inputs
from .run import _shutdown
from .workloads import KGExtract


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--cores", type=int, required=True)
    args = ap.parse_args(argv)
    spark = get_spark("perfbench-scaling", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        corpus = inputs.kg_corpus(spark, KGExtract.n_docs, args.seed)
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            digest = inputs.triple_digest(extract_triples(corpus))
            sec = time.perf_counter() - t0
    finally:
        _shutdown(spark)
    print(json.dumps({"docs_per_s": KGExtract.n_docs / sec, "digest": digest}))


if __name__ == "__main__":
    main()
