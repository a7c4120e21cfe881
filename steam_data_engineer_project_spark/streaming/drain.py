"""Shared foreachBatch drain: stream → ``<out_dir>/batch_id=N`` parquet.

Both engine-original streaming designs (applyInPandasWithState updates,
watermarked append-mode windows) materialize their micro-batches the same
way: one overwrite-mode parquet directory per batch_id (overwrite → a
replayed batch rewrites its own dir, so the union over dirs is
replay-idempotent), driven by a checkpointed Trigger.AvailableNow run.
This helper is that harness, extracted so sink/idempotency fixes apply to
every caller at once (price_pipeline keeps its own richer loop — state
store + notifications — by design).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame

#: parquet files written per micro-batch directory
FILES_PER_BATCH = 4
#: ``spark.sql.shuffle.partitions`` every drain pins for its run (restored
#: after): per-key work inside a micro-batch scales with BATCH size, not
#: corpus size, and AQE does not coalesce partitions inside streaming
#: micro-batch plans, so streaming jobs size their shuffles explicitly.
#: For stateful streams the count is FROZEN into the checkpoint at first
#: start and a restart with a different value is rejected by Spark.
BATCH_SHUFFLE_PARTITIONS = 8


def drain_to_batch_dirs(
    spark: Any,
    stream_df: DataFrame,
    out_dir: str,
    ckpt_dir: str,
    *,
    output_mode: str,
) -> str:
    """Run ``stream_df`` to completion (AvailableNow) writing each
    micro-batch to ``<out_dir>/batch_id=N``; returns ``out_dir``. The
    drain runs at :data:`BATCH_SHUFFLE_PARTITIONS`."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.coalesce(FILES_PER_BATCH).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(BATCH_SHUFFLE_PARTITIONS))
    try:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    return out_dir
