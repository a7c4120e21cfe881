#!/usr/bin/env python3
"""Round-12 per-leg profiler: time the sub-frames of the heaviest registry
queries through the noop sink, so optimization targets are measured, not
guessed (guide §1.1). Each leg is warmed once at sf0.001 and timed as the
min over 2 passes at the target SF — same methodology as bench.py, scoped
to query internals.

Usage: python tools/profile_r12.py [sf_dir] [group ...]
Groups: embed, store, cross, sketch, text, e2e, streamst
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
GROUPS = sys.argv[2:] or ["embed"]
WARM_DIR = "/root/testdata/sf0.001"


def main() -> None:
    from pyspark.sql import functions as F

    from steam_data_engineer_project_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        "steam-spark-profile-r12", master=f"local[{cpus}]", shuffle_partitions=cpus
    )

    def timeit(label, build):
        # warm the plan shape at the smallest SF, then min over 2 passes
        try:
            build(WARM_DIR).write.format("noop").mode("overwrite").save()
        except Exception as e:  # warm failures are informative, not fatal
            print(f"  [warm failed: {type(e).__name__}: {e}]")
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            build(SF_DIR).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        print(f"{best:7.2f}s  {label}", flush=True)

    if "embed" in GROUPS:
        import math

        from steam_data_engineer_project_spark import queries as Q
        from steam_data_engineer_project_spark.operators.clustering import (
            incremental_semantic_verdicts,
            kmeans_int8,
            quantized_vectors,
            semantic_dedup_pairs,
        )
        from steam_data_engineer_project_spark.operators.similarity import (
            embedding_near_dup_pairs,
        )

        def lsh_leg(sf):
            e = Q._spread(spark, sf, "embeddings", "vec_id")
            return embedding_near_dup_pairs(e, "embedding", "vec_id", threshold=0.30)

        timeit("lsh_pair leg", lsh_leg)

        def kmeans_leg(sf):
            src = Q._sem_embeddings(spark, sf)
            qdf = quantized_vectors(src, "embedding", "vec_id")
            k = Q._SEM_K * math.ceil(src.count() / Q._SEM_SEED_UNIT)
            return kmeans_int8(
                None, "embedding", "vec_id", k=k, n_iter=Q._SEM_ITER, qdf=qdf
            )

        timeit("kmeans assign (train + final pass)", kmeans_leg)

        def pair_leg(sf):
            src = Q._sem_embeddings(spark, sf)
            qdf = quantized_vectors(src, "embedding", "vec_id")
            k = Q._SEM_K * math.ceil(src.count() / Q._SEM_SEED_UNIT)
            assigned = kmeans_int8(
                None, "embedding", "vec_id", k=k, n_iter=Q._SEM_ITER, qdf=qdf
            ).localCheckpoint()
            return semantic_dedup_pairs(
                None,
                "embedding",
                "vec_id",
                k=k,
                n_iter=Q._SEM_ITER,
                threshold=Q._SEM_THRESHOLD,
                qdf=qdf,
                assignments=assigned,
            )

        timeit("kmeans + pair leg", pair_leg)

        def inc_leg(sf):
            src = Q._sem_embeddings(spark, sf)
            qdf = quantized_vectors(src, "embedding", "vec_id")
            inc_cond = (F.col("vec_id") % 10).isin(5, 7)
            corpus_q, inc_q = qdf.filter(~inc_cond), qdf.filter(inc_cond)
            k_inc = Q._SEM_K * math.ceil(corpus_q.count() / Q._SEM_SEED_UNIT)
            return incremental_semantic_verdicts(
                None,
                None,
                "embedding",
                "vec_id",
                k=k_inc,
                n_iter=Q._SEM_ITER,
                threshold=Q._SEM_THRESHOLD,
                corpus_qdf=corpus_q,
                incoming_qdf=inc_q,
            )

        timeit("incremental leg (train + verdicts)", inc_leg)

        timeit(
            "FULL dedup_embedding_cosine",
            lambda sf: Q.QUERIES["dedup_embedding_cosine"].spark(spark, sf),
        )

    if "cross" in GROUPS:
        from steam_data_engineer_project_spark import queries as Q

        timeit(
            "FULL dedup_cross_corpus",
            lambda sf: Q.QUERIES["dedup_cross_corpus"].spark(spark, sf),
        )

    if "store" in GROUPS:
        from steam_data_engineer_project_spark import queries as Q

        timeit(
            "FULL corpus_store_suite",
            lambda sf: Q.QUERIES["corpus_store_suite"].spark(spark, sf),
        )

    if "sketch" in GROUPS:
        from steam_data_engineer_project_spark import queries as Q

        timeit(
            "FULL sketch_merge_suite",
            lambda sf: Q.QUERIES["sketch_merge_suite"].spark(spark, sf),
        )

    if "text" in GROUPS:
        from steam_data_engineer_project_spark import queries as Q

        timeit(
            "FULL text_profile_docs",
            lambda sf: Q.QUERIES["text_profile_docs"].spark(spark, sf),
        )

    if "e2e" in GROUPS:
        from steam_data_engineer_project_spark import queries as Q

        timeit(
            "FULL corpus_pipeline_e2e",
            lambda sf: Q.QUERIES["corpus_pipeline_e2e"].spark(spark, sf),
        )


if __name__ == "__main__":
    main()
