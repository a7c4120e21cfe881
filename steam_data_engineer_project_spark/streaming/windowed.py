"""Watermarked windowed aggregation over the event stream.

The pipelines' ST2 late-data policy (price_pipeline.detect_changes) is
per-KEY: the monotone crawl-state watermark decides which events are late.
This module is the per-WINDOW counterpart — Spark's native
``withWatermark`` + ``window()`` aggregation in append mode:

- the watermark trails the max observed event time by a configured delay;
- a window only EMITS once the watermark passes its end (append mode =
  finalized windows only, each exactly once);
- an event older than the watermark whose window is already finalized is
  DROPPED by the engine — the state store provably stops growing, which is
  what makes a windowed aggregation over an unbounded 100 TB/day stream
  feasible at all (without a watermark, state is unbounded and the job
  eventually dies).

Both behaviors are asserted in tests/test_streaming.py. Reference parity:
the reference has no streaming window aggregation (its Kafka consumers are
per-message upserts); this is engine-original surface, ST6's streaming
sibling (batch tumbling windows: queries.tumbling_window_agg, oracle-
verified).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: JSON event file columns; ``ts`` is epoch seconds
EVENT_SCHEMA = "appid long, price double, ts double"
#: tumbling window length
WINDOW_DURATION = "1 hour"
#: how far the watermark trails the max observed event time
WATERMARK_DELAY = "30 minutes"


def windowed_price_stats(events: DataFrame) -> DataFrame:
    """Tumbling-window per-app stats over a (streaming or batch) frame with
    ``appid``, ``price`` and an ``event_time`` timestamp column.

    On a streaming frame, pair with ``outputMode("append")``: rows emit only
    when the watermark finalizes their window. On a batch frame the
    watermark is a no-op and every window emits — the property that makes
    the batch run the oracle for the streamed one.
    """
    return (
        events.withWatermark("event_time", WATERMARK_DELAY)
        .groupBy(F.window("event_time", WINDOW_DURATION), F.col("appid"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("price").alias("max_price"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "appid",
            "n_events",
            "max_price",
        )
    )


def run_windowed_to_table(
    spark,
    events_dir: str,
    work_dir: str,
    *,
    max_files_per_trigger: int | None = 1,
) -> str:
    """Drain JSON event files through the watermarked window aggregation:
    each micro-batch's FINALIZED windows land in a ``windows/batch_id=N``
    parquet directory (overwrite → replay-idempotent). Append mode emits
    each window exactly once, so the union over batch dirs IS the result
    table — no dedup needed downstream.
    The drain runs at ``drain.BATCH_SHUFFLE_PARTITIONS``, which is frozen
    into the checkpoint's window state at first start.
    """
    from .drain import drain_to_batch_dirs

    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    events = reader.json(events_dir).select(
        "appid", "price", F.timestamp_seconds(F.col("ts")).alias("event_time")
    )
    return drain_to_batch_dirs(
        spark,
        windowed_price_stats(events),
        os.path.join(work_dir, "windows"),
        os.path.join(work_dir, "window_checkpoint"),
        output_mode="append",
    )
