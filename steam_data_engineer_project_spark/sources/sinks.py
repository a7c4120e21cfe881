"""Set-oriented sinks (SURVEY §2.1 S8-S14) and the Kafka frame codecs.

A "sink" here is a function from DataFrame to a durable table with one of
the reference's conflict-resolution semantics — each a thin composition of
the ``operators.merge`` strategies with a read-merge-overwrite cycle
(vanilla Spark tables have no MERGE). The Kafka codecs build/decode the
(key, value) frame shape `writeStream.format("kafka")` expects; the broker
wiring is configuration, the codec is the engine surface — and is fully
testable without a broker.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..fsutil import recover_swap, swap_in
from ..operators.merge import insert_ignore, upsert_last_wins


def append_parquet(df: DataFrame, path: str) -> None:
    """S10/S12: append-only sink (MySQL INSERT of price rows —
    tasks/steam_tasks_improved.py:475-478; Mongo insert_many —
    etl/load/load_mongo.py:38). Parquet append: no read, no merge, each
    micro-batch is a new file set."""
    df.write.mode("append").parquet(path)


def _overwrite_swap(df: DataFrame, path: str) -> None:
    """Replace the table at ``path`` with ``df`` by
    :func:`fsutil.swap_in`: the old table is displaced, never deleted
    before the new one is in place. Each sink runs :func:`fsutil.recover_swap`
    before it reads ``path``, so a swap a crash interrupted is repaired
    before the merge reads the old rows."""
    tmp = path + ".tmp"
    df.write.mode("overwrite").parquet(tmp)
    swap_in(path, tmp, path + ".old")


def upsert_parquet(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    key_cols: list[str],
    order_col: str | None = None,
) -> None:
    """S9/S13: upsert sink (INSERT ... ON DUPLICATE KEY UPDATE —
    kafka/consumers/kafka_consumer_info.py:39-51; Mongo update_one upsert —
    kafka/consumers/kafka_consumer_reviews.py:61-65): read-merge-overwrite
    with incoming-wins conflict resolution."""
    recover_swap(path, path + ".old")
    if os.path.exists(path):
        existing = spark.read.parquet(path)
        merged = upsert_last_wins(existing, incoming, key_cols, order_col)
    else:
        merged = upsert_last_wins(
            incoming.limit(0), incoming, key_cols, order_col
        )
    _overwrite_swap(merged, path)


def insert_ignore_parquet(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    key_cols: list[str],
    order_cols: list[str] | None = None,
) -> None:
    """S11: INSERT IGNORE sink (kafka/consumers/kafka_consumer_info.py:56-68)
    — keep existing rows, add only absent keys."""
    recover_swap(path, path + ".old")
    if os.path.exists(path):
        existing = spark.read.parquet(path)
        merged = insert_ignore(existing, incoming, key_cols, order_cols)
    else:
        merged = insert_ignore(incoming.limit(0), incoming, key_cols, order_cols)
    _overwrite_swap(merged, path)


def append_csv_buffered(
    df: DataFrame, path: str, max_records_per_file: int = 50
) -> None:
    """S14: batched CSV buffer sink (reference buffers 50 rows then appends
    to the CSV — tasks/steam_tasks_improved.py:199-206,
    etl/extract/steam_crawl_price.py:61-68). The Spark analog of the row
    buffer is ``maxRecordsPerFile``: an append-mode write where every emitted
    file holds at most the buffer size, so downstream tail-followers see the
    same bounded-chunk growth pattern without any driver-side batching."""
    (
        df.write.mode("append")
        .option("header", "true")
        .option("maxRecordsPerFile", max_records_per_file)
        .csv(path)
    )


# ---------------------------------------------------------------------------
# Kafka frame codecs (S6 source / S8 sink surface)
# ---------------------------------------------------------------------------


def to_kafka_frame(df: DataFrame, key_col: str, value_cols: list[str]) -> DataFrame:
    """S8: rows → the (key, value) frame `writeStream.format("kafka")`
    publishes (kafka/producers/kafka_producer_info.py:7-50 — json.dumps per
    message, here one JVM-side to_json over a struct). Attach the broker with
    `.option("kafka.bootstrap.servers", ...).option("topic", ...)`."""
    return df.select(
        F.col(key_col).cast("string").cast("binary").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in value_cols]))
        .cast("binary")
        .alias("value"),
    )


def from_kafka_frame(frame: DataFrame, schema: T.StructType) -> DataFrame:
    """S6: the inverse — decode the Kafka (key, value) frame a
    `readStream.format("kafka")` source yields back into typed columns
    (kafka/consumers/kafka_consumer_info.py:7-10 — json.loads per message,
    here one from_json against the declared envelope schema)."""
    return frame.select(
        F.col("key").cast("string").alias("key"),
        F.from_json(F.col("value").cast("string"), schema).alias("v"),
    ).select("key", "v.*")


def foreach_batch_webhook(
    notify,
    format_row,
    max_rows_per_batch: int = 10_000,
) -> "callable":
    """S16: side-effecting notification sink (Discord webhook POST —
    tasks/steam_tasks_improved.py:687-729, kafka/consumers/discord.py:14-48)
    as a foreachBatch function: rows are formatted driver-side per batch and
    handed to ``notify`` (the HTTP POST in production, a buffer in tests).

    Notifications are change events, not the data stream — but a pathological
    batch must not OOM the driver, so the collect is hard-capped at
    ``max_rows_per_batch``; overflow emits one summary notification with the
    count of suppressed rows instead of the rows themselves.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.limit(max_rows_per_batch + 1).collect()
        overflow = len(rows) > max_rows_per_batch
        for row in rows[:max_rows_per_batch]:
            notify(format_row(row))
        if overflow:
            # Exact count only in the overflow path (one extra bounded job).
            suppressed = batch_df.count() - max_rows_per_batch
            notify(
                f"[batch {batch_id}] {suppressed} further notifications "
                f"suppressed (cap {max_rows_per_batch})"
            )

    return _sink
