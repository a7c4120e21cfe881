"""Custom stateful streaming via ``applyInPandasWithState``.

The price/review pipelines keep their keyed state in an EXTERNAL bucketed
parquet store (state_store.py) because the reference's state is a queryable
MySQL table. The complementary Spark-native design keeps state INSIDE the
engine's state store (checkpointed per key; RocksDB-backed at scale), which
is the right choice when state is only consulted by the stream itself:
no per-batch table read/merge/swap at all, updates are O(batch keys), and
recovery is the checkpoint's problem, not ours.

This module tracks the same crawl-state semantics as
price_pipeline.batch_crawl_state — struct-max watermark + additive event
count per appid (reference: ON DUPLICATE KEY UPDATE,
tasks/steam_tasks_improved.py:481-485) — so the two designs are directly
comparable and the batch groupBy is the test oracle for both (the merge is
associative, so any micro-batch partitioning yields the same final state).

Python crosses the boundary Arrow-batched (one call per key group per
batch), never per row; per-group work is vectorized pandas.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING, Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.streaming.state import GroupState

#: one output row per key per micro-batch that touched it (update mode)
OUTPUT_SCHEMA = (
    "appid long, last_ts_us long, last_event_id long, "
    "last_price double, n_events long"
)
#: engine-managed per-key state: the running struct-max + count
STATE_SCHEMA = (
    "last_ts_us long, last_event_id long, last_price double, n_events long"
)


def _update_crawl_state(
    key: tuple, pdf_iter: Iterator[pd.DataFrame], state: "GroupState"
) -> Iterator[pd.DataFrame]:
    """Fold this batch's rows for one appid into the running state and emit
    the updated row. Associative/commutative (max + sum), so replays and
    batch boundaries can't change the final state."""
    if state.exists:
        last_ts, last_eid, last_price, n = state.get
    else:
        last_ts, last_eid, last_price, n = -1, -1, None, 0
    for pdf in pdf_iter:
        if len(pdf) == 0:
            continue
        top = pdf.sort_values(["ts_us", "event_id"]).iloc[-1]
        if (int(top.ts_us), int(top.event_id)) > (last_ts, last_eid):
            last_ts = int(top.ts_us)
            last_eid = int(top.event_id)
            last_price = float(top.price)
        n += len(pdf)
    state.update((last_ts, last_eid, last_price, n))
    yield pd.DataFrame(
        [
            {
                "appid": key[0],
                "last_ts_us": last_ts,
                "last_event_id": last_eid,
                "last_price": last_price,
                "n_events": n,
            }
        ]
    )


def crawl_state_stream(events: DataFrame) -> DataFrame:
    """Engine-managed keyed crawl state over a STREAMING frame of typed
    price events (columns appid, event_id, price, ts_us — the output of
    price_pipeline.transform_price_events).

    Returns the update stream: one row per (key, batch) with the state
    after that batch. The LAST emission per key equals the batch
    ``batch_crawl_state`` over all events — asserted in
    tests/test_streaming.py.
    """
    return events.groupBy("appid").applyInPandasWithState(
        _update_crawl_state,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_crawl_state_to_table(
    spark: Any,
    events_dir: str,
    work_dir: str,
    *,
    max_files_per_trigger: int | None = None,
) -> str:
    """Production-shaped drain of crawl_state_stream: each micro-batch's
    update rows land in an ``updates/batch_id=N`` parquet directory
    (overwrite → replay-idempotent, same contract as the price pipeline's
    append sink). The converged state is the max-``batch_id`` row per key.

    applyInPandasWithState hashes keys into exactly
    ``drain.BATCH_SHUFFLE_PARTITIONS`` engine state partitions, the count
    the drain pins; it is FROZEN into the checkpoint at first start.
    """
    from ..schemas import PRICE_EVENT
    from .drain import drain_to_batch_dirs
    from .price_pipeline import transform_price_events

    reader = spark.readStream.schema(PRICE_EVENT)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    updates = crawl_state_stream(transform_price_events(reader.json(events_dir)))
    return drain_to_batch_dirs(
        spark,
        updates,
        os.path.join(work_dir, "updates"),
        os.path.join(work_dir, "stateful_checkpoint"),
        output_mode="update",
    )
