"""The review pipeline: JSONL file-source readStream (stands in for the
`steam-reviews` topic / tail-followed reviews_{date}.jsonl) → validity
guards → foreachBatch that (a) upserts the review store keyed on
(appid, author_steamid), latest-wins by event time, and (b) INSERT IGNOREs
review_summaries, first-wins by event time.

Reference behavior (file:line under /root/reference):
- JSONL tail-follow / directory watch (S4/S5,
  tasks/steam_review_task_improved.py:250-279,326-346) → streaming file
  source with checkpointed exactly-once file progress.
- Mongo upsert keyed (appid, author_steamid) (S13,
  kafka/consumers/kafka_consumer_reviews.py:24,61-65) → associative
  struct-max merge (latest review per author per game).
- INSERT IGNORE review_summaries (S11,
  tasks/steam_review_task_improved.py:479-486) → associative struct-MIN
  merge (first-wins made deterministic by event time + recommendationid —
  the reference's arrival-order semantics are nondeterministic under
  replay; event-time-first is the replay-safe refinement).

Both merges are associative and commutative, so the final tables do not
depend on micro-batch boundaries — and both live in the bucketed state
store (state_store.py): a batch rewrites only the key-hash buckets it
touches, and each bucket's _last_batch marker keeps a replayed batch from
double-counting the additive n_reviews (foreachBatch is at-least-once;
file-source progress is exactly-once via the checkpoint). Checkable
against a plain batch oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import REVIEW_EVENT
from .drain import BATCH_SHUFFLE_PARTITIONS
from .state_store import bucket_of, merge_bucketed

_KEY = ("appid", "author_steamid")
#: hash buckets of each state table
NUM_STATE_BUCKETS = 16


def transform_review_events(raw: DataFrame) -> DataFrame:
    """Validity guard (P9 — tasks/steam_review_task_improved.py:473-476):
    drop events missing the upsert key or event time."""
    return raw.filter(
        F.col("appid").isNotNull()
        & F.col("author_steamid").isNotNull()
        & F.col("recommendationid").isNotNull()
        & F.col("timestamp_created").isNotNull()
    ).select(
        "appid",
        "author_steamid",
        "recommendationid",
        "language",
        "voted_up",
        "votes_up",
        F.col("timestamp_created").alias("ts_s"),
    )


def run_review_pipeline(
    spark: SparkSession,
    events_dir: str,
    work_dir: str,
    *,
    max_files_per_trigger: int | None = None,
) -> dict[str, str]:
    """Drain review-event JSONL files; maintain the latest-wins review store
    and the first-wins summaries table, both bucketed by the upsert key.
    Resumable via checkpoint; replayed batches are merge-idempotent.
    The drain runs at ``drain.BATCH_SHUFFLE_PARTITIONS``."""
    store_dir = os.path.join(work_dir, "reviews_latest")
    summary_dir = os.path.join(work_dir, "review_summaries")
    ckpt_dir = os.path.join(work_dir, "checkpoint")

    reader = spark.readStream.schema(REVIEW_EVENT)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    events = transform_review_events(reader.json(events_dir))

    latest_aggs = [
        F.max(F.struct("last_ts_s", "last_recommendationid", "last_voted_up")).alias(
            "s"
        ),
        F.sum("n_reviews").alias("n_reviews"),
    ]
    latest_back = [
        "appid",
        "author_steamid",
        F.col("s.last_ts_s").alias("last_ts_s"),
        F.col("s.last_recommendationid").alias("last_recommendationid"),
        F.col("s.last_voted_up").alias("last_voted_up"),
        F.col("n_reviews").cast("long").alias("n_reviews"),
    ]
    first_aggs = [
        F.min(F.struct("first_ts_s", "first_recommendationid")).alias("s")
    ]
    first_back = [
        "appid",
        "author_steamid",
        F.col("s.first_ts_s").alias("first_ts_s"),
        F.col("s.first_recommendationid").alias("first_recommendationid"),
    ]

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Both stores reduce over the same (appid, author_steamid) keys, so
        # ONE aggregate computes the latest-wins and first-wins summaries
        # together (one shuffle, not two) and one bucket probe serves both
        # merges (the bucket set depends only on the keys).
        combined = (
            batch_df.groupBy(*_KEY)
            .agg(
                F.max(
                    F.struct(
                        F.col("ts_s").alias("last_ts_s"),
                        F.col("recommendationid").alias("last_recommendationid"),
                        F.col("voted_up").alias("last_voted_up"),
                    )
                ).alias("s_last"),
                F.count("*").alias("n_reviews"),
                F.min(
                    F.struct(
                        F.col("ts_s").alias("first_ts_s"),
                        F.col("recommendationid").alias("first_recommendationid"),
                    )
                ).alias("s_first"),
            )
            .persist()
        )
        try:
            # collected first: the merge rewrites only these buckets' files
            touched = sorted(
                r.bucket
                for r in combined.withColumn(
                    "bucket", bucket_of(list(_KEY), NUM_STATE_BUCKETS)
                )
                .select("bucket")
                .distinct()
                .collect()
            )
            # S13: latest-wins review store keyed (appid, author_steamid).
            latest_batch = combined.select(
                *_KEY,
                F.col("s_last.last_ts_s").alias("last_ts_s"),
                F.col("s_last.last_recommendationid").alias(
                    "last_recommendationid"
                ),
                F.col("s_last.last_voted_up").alias("last_voted_up"),
                F.col("n_reviews").cast("long").alias("n_reviews"),
            )
            # S11: first-wins INSERT IGNORE summaries.
            first_batch = combined.select(
                *_KEY,
                F.col("s_first.first_ts_s").alias("first_ts_s"),
                F.col("s_first.first_recommendationid").alias(
                    "first_recommendationid"
                ),
            )
            # The two stores live in disjoint directories, merge disjoint
            # artifacts of the same persisted per-key frame, and are each
            # independently replay-safe (per-bucket _last_batch markers), so
            # their merges run on two driver threads — one merge's write/
            # rename tail back-fills the cores the other leaves idle
            # (guide §2.6). A crash with either store ahead of the other
            # converges on replay exactly as the sequential order did: the
            # behind store's markers are still behind, the ahead store's
            # merge is a marker no-op.
            from concurrent.futures import ThreadPoolExecutor

            from pyspark import inheritable_thread_target

            def _merge(args):
                target_dir, batch_state, aggs, back = args
                merge_bucketed(
                    spark,
                    target_dir,
                    batch_state,
                    list(_KEY),
                    aggs,
                    back,
                    batch_id,
                    num_buckets=NUM_STATE_BUCKETS,
                    touched=touched,
                )

            with ThreadPoolExecutor(max_workers=2) as pool:
                futs = [
                    pool.submit(inheritable_thread_target(spark)(_merge), a)
                    for a in (
                        (store_dir, latest_batch, latest_aggs, latest_back),
                        (summary_dir, first_batch, first_aggs, first_back),
                    )
                ]
                for f in futs:
                    f.result()
        finally:
            combined.unpersist()

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(BATCH_SHUFFLE_PARTITIONS))
    try:
        q = (
            events.writeStream.foreachBatch(handle_batch)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    return {"reviews_latest": store_dir, "review_summaries": summary_dir}
