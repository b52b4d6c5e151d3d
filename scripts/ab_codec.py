#!/usr/bin/env python
"""One side of the shuffle-codec A/B (r22, VERDICT r21 #5 / guide
§2.3): `spark.io.compression.codec` is STATIC (JVM-launch-only), so
each codec gets its own process — launch this script via

    PYSPARK_SUBMIT_ARGS="--conf spark.io.compression.codec=<codec> \
        pyspark-shell" SPARK_GRAFT_SF_DIR=<dir> python scripts/ab_codec.py

alternating codecs A,B,A,B so box drift hits both equally (the caller
interleaves processes; within a process the protocol is ab_bench's
warm one: shared frames cached, plan built once, best-of-N into the
noop sink). Prints one line per row plus the codec actually in effect
(read back from the live conf, so a typo'd env is caught)."""

from __future__ import annotations

import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from datawarehouse_project_spark.catalog import all_queries
from datawarehouse_project_spark.operators.dedup import doc_shingle_frame
from datawarehouse_project_spark.plans.star import fact
from datawarehouse_project_spark.session import get_spark

ROWS = [
    "lexical_tfidf_cosine_pairs",
    "dedup_ngram_jaccard_capped",
    "q06_product_affinity",
]
N_REPS = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", f"{ROOT}/.scale/sf1")
    spark = get_spark("dwspark-ab-codec", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    codec = spark.conf.get("spark.io.compression.codec")
    # warm shared inputs (scan cost out of the timed region — the A/B
    # isolates the shuffle/exchange path the codec actually touches)
    for fr in (fact(spark, sf_dir), doc_shingle_frame(spark, sf_dir)):
        fr.cache()
        fr.count()
    builds = all_queries()
    frames = {n: builds[n](spark, sf_dir) for n in ROWS}
    for n in ROWS:  # untimed warm exec (JIT, AQE)
        _noop(frames[n])
    for n in ROWS:
        reps = []
        for _ in range(N_REPS):
            spark.sparkContext.setJobDescription(f"ab-codec:{codec}:{n}")
            t0 = time.perf_counter()
            _noop(frames[n])
            reps.append(time.perf_counter() - t0)
        print(
            f"codec={codec} {n}: best={min(reps):.3f} "
            f"median={statistics.median(reps):.3f}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
