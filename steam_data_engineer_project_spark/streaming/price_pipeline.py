"""The price pipeline: file-source readStream (JSON price events standing in
for the Kafka topic) → validity guards + scalar transforms → foreachBatch
that (a) appends to the `prices` time series, (b) merges the `crawl_state`
per-key watermark registry, and (c) emits change notifications.

Reference behavior re-expressed (file:line under /root/reference):
- readStream file watch = the 5s CSV-growth poll loop
  (tasks/steam_tasks_improved.py:221-253, ST5); `Trigger.AvailableNow`
  replaces the `_CRAWL_DONE.flag` completion sentinel (ST7,
  tasks/steam_tasks_improved.py:501-503); the checkpoint replaces
  `ProcessedTracker` JSON state (ST8, utils/common.py:52-125).
- prices append sink = per-message INSERT (S10,
  tasks/steam_tasks_improved.py:475-478), made set-oriented per micro-batch.
- crawl_state merge = ON DUPLICATE KEY UPDATE (ST1/A6/A7,
  tasks/steam_tasks_improved.py:481-485), as an associative
  struct-max + additive count merge so the final state is independent of
  micro-batch boundaries (exactly-once replay safe).
- change notifications = previous-price comparison + notify-on-diff (ST4,
  kafka/consumers/kafka_consumer_prices.py:37-67); the webhook POST
  (S16, tasks/steam_tasks_improved.py:687-729) becomes an append-only
  notifications table a side-effecting sink would drain.

Scale + delivery semantics: crawl_state lives in the bucketed store
(state_store.py) — a batch reads and rewrites ONLY the key-hash buckets it
touches, so per-batch merge cost follows batch size, not lifetime state.
File-source progress is exactly-once via the checkpoint; the foreachBatch
body itself is at-least-once, made replay-safe per side effect: prices and
notifications overwrite a per-batch directory (idempotent), and the state
merge consults each bucket's _last_batch marker so a replayed batch can
never double-count the additive n_events.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import initial_price
from ..schemas import PRICE_EVENT
from .drain import BATCH_SHUFFLE_PARTITIONS
from .state_store import bucket_of, merge_bucketed, read_state, resolve_num_buckets


def _state_aggs() -> list:
    """The associative combine (struct-max + additive count) for crawl_state
    — ON DUPLICATE KEY UPDATE, tasks/steam_tasks_improved.py:481-485. Built
    lazily: Column construction needs an active session."""
    return [
        F.max(F.struct("last_ts_us", "last_event_id", "last_price")).alias("s"),
        F.sum("n_events").alias("n_events"),
    ]


def _state_back() -> list:
    return [
        "appid",
        F.col("s.last_ts_us").alias("last_ts_us"),
        F.col("s.last_event_id").alias("last_event_id"),
        F.col("s.last_price").alias("last_price"),
        F.col("n_events").cast("long").alias("n_events"),
    ]


def transform_price_events(raw: DataFrame) -> DataFrame:
    """Envelope → typed rows: validity guard (P9), µs event time recovered
    from the epoch-seconds double (error < 0.5 µs, so the round() is exact),
    and the F8 initial-price derivation."""
    guarded = raw.filter(
        (F.col("type") == "price")
        & F.col("appid").isNotNull()
        & F.col("event_id").isNotNull()
        & F.col("price").isNotNull()
        & F.col("timestamp").isNotNull()
    )
    return guarded.select(
        "appid",
        "event_id",
        "price",
        F.coalesce(F.col("discount"), F.lit(0.0)).alias("discount"),
        initial_price(
            F.col("price"), F.coalesce(F.col("discount"), F.lit(0.0))
        ).alias("initial_price"),
        F.round(F.col("timestamp") * 1000000).cast("long").alias("ts_us"),
    )


def batch_crawl_state(batch_df: DataFrame) -> DataFrame:
    """Reduce one micro-batch to per-appid crawl_state rows: the row of the
    max (ts, event_id) via a single struct-max aggregate, plus the event
    count. Because max and + are associative/commutative, merging these
    per-batch rows (state_store.merge_bucketed with _STATE_AGGS) yields the
    same final state for ANY partitioning of events into micro-batches —
    which is what makes the pipeline replay-safe and oracle-checkable."""
    return batch_df.groupBy("appid").agg(
        F.max(
            F.struct(
                F.col("ts_us").alias("last_ts_us"),
                F.col("event_id").alias("last_event_id"),
                F.col("price").alias("last_price"),
            )
        ).alias("s"),
        F.count(F.lit(1)).alias("n_events"),
    ).select(
        "appid",
        F.col("s.last_ts_us").alias("last_ts_us"),
        F.col("s.last_event_id").alias("last_event_id"),
        F.col("s.last_price").alias("last_price"),
        F.col("n_events").cast("long").alias("n_events"),
    )


def detect_changes(batch_df: DataFrame, prev_state: DataFrame | None) -> DataFrame:
    """ST4 change detection within a micro-batch: each event's previous price
    is the in-batch lag, falling back to the stored state for the first
    event per key. Events at or before the stored watermark are late data —
    they are dropped BEFORE the lag so they neither notify nor define 'the
    previous price' for on-time events (ST2 policy: the monotone state never
    regresses; late rows still land in the append-only prices table)."""
    if prev_state is not None:
        st = prev_state.select(
            "appid",
            F.col("last_ts_us").alias("st_ts_us"),
            F.col("last_price").alias("st_price"),
        )
        joined = batch_df.join(st, "appid", "left")
    else:
        joined = batch_df.withColumn("st_ts_us", F.lit(None).cast("long")).withColumn(
            "st_price", F.lit(None).cast("double")
        )
    on_time = joined.filter(
        F.col("st_ts_us").isNull() | (F.col("ts_us") > F.col("st_ts_us"))
    )
    w = Window.partitionBy("appid").orderBy("ts_us", "event_id")
    lagged = on_time.withColumn("prev_in_batch", F.lag("price").over(w))
    prev = F.coalesce(F.col("prev_in_batch"), F.col("st_price"))
    return (
        lagged.filter(prev.isNull() | (prev != F.col("price")))
        .select(
            "appid",
            "event_id",
            "ts_us",
            "price",
            prev.alias("prev_price"),
            F.when(prev.isNull(), F.lit("c")).otherwise(F.lit("u")).alias("op"),
        )
    )


def run_price_pipeline(
    spark: SparkSession,
    events_dir: str,
    work_dir: str,
    *,
    max_files_per_trigger: int | None = None,
    num_state_buckets: int = 16,
) -> dict[str, str]:
    """Drain all available price-event files through the pipeline.

    Returns the output table paths: prices (append-only, one partition dir
    per batch), crawl_state (bucketed registry), notifications (change
    stream, one partition dir per batch). Re-running with the same work_dir
    resumes from the checkpoint: already-processed files are NOT reprocessed
    (exactly-once file progress), and a replayed in-flight batch is
    idempotent (per-batch overwrite dirs + per-bucket merge markers).

    The drain runs at ``drain.BATCH_SHUFFLE_PARTITIONS`` (restored after).
    """
    prices_dir = os.path.join(work_dir, "prices")
    state_dir = os.path.join(work_dir, "crawl_state")
    notif_dir = os.path.join(work_dir, "notifications")
    ckpt_dir = os.path.join(work_dir, "checkpoint")

    reader = spark.readStream.schema(PRICE_EVENT)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    events = transform_price_events(reader.json(events_dir))

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        # The store's stored layout wins over our argument (a reshard between
        # drains changes the modulus; hashing with the old one would fork
        # keys into wrong buckets).
        n_buckets = resolve_num_buckets(state_dir, num_state_buckets)
        batch_df.persist()
        try:
            # S10: append-only prices time series. Each batch owns the
            # batch_id=N partition directory and overwrites it, so a
            # replayed batch replaces its own rows instead of appending
            # duplicates (idempotent under at-least-once foreachBatch).
            # The write depends only on batch_df — independent of the
            # state/notification chain below — so it runs on a driver
            # thread and its write tail back-fills cores the chain leaves
            # idle (guide §2.6). New torn state this introduces (state
            # merged, prices not yet written) converges on replay the same
            # way the old one (prices written, state not merged) did: the
            # prices dir is overwritten idempotently, the merge is a
            # marker no-op.
            from concurrent.futures import ThreadPoolExecutor

            from pyspark import inheritable_thread_target

            def _write_prices():
                batch_df.write.mode("overwrite").parquet(
                    os.path.join(prices_dir, f"batch_id={batch_id}")
                )

            prices_pool = ThreadPoolExecutor(max_workers=1)
        except BaseException:
            batch_df.unpersist()
            raise
        batch_state = None
        try:
            batch_state = batch_crawl_state(batch_df).persist()
            # The buckets this batch's keys hash into — notifications and
            # the merge only ever read/write these (collected before both).
            touched = sorted(
                r.bucket
                for r in batch_state.withColumn(
                    "bucket", bucket_of(["appid"], n_buckets)
                )
                .select("bucket")
                .distinct()
                .collect()
            )
            # Started only now that the collect has materialized batch_df:
            # started earlier, it raced the chain to build that cache, and
            # the Spark job count depended on which thread got there first.
            prices_fut = prices_pool.submit(
                inheritable_thread_target(spark)(_write_prices)
            )
            # ST4: notifications against the PRE-merge state (touched
            # buckets only — exact, since batch keys live nowhere else).
            # Written BEFORE the state merge via tmp + atomic rename, and
            # skipped when the final dir already exists: on a replay after a
            # mid-merge crash the state is no longer pre-merge, so
            # recomputing would silently drop change events — the first
            # attempt's completed output is the correct one. The exists
            # check + rename assume LOCAL-FS (POSIX) atomicity, like every
            # sink in this pipeline; on an object store / HDFS route them
            # through a commit service or Delta-style log instead.
            notif_batch = os.path.join(notif_dir, f"batch_id={batch_id}")
            if not os.path.exists(notif_batch):
                prev = read_state(spark, state_dir, touched)
                if prev is not None:
                    prev = prev.drop("bucket")
                tmp_notif = f"{notif_batch}.tmp"
                detect_changes(batch_df, prev).coalesce(4).write.mode(
                    "overwrite"
                ).parquet(tmp_notif)
                os.rename(tmp_notif, notif_batch)
            # ST1/A6/A7: merge the watermark registry, touched buckets only.
            merge_bucketed(
                spark,
                state_dir,
                batch_state,
                ["appid"],
                _state_aggs(),
                _state_back(),
                batch_id,
                num_buckets=n_buckets,
                touched=touched,
            )
            prices_fut.result()  # surface a prices-write failure to the engine
        finally:
            # join the writer thread even when the chain raised — the engine
            # must not see the batch "done" with a write still in flight
            prices_pool.shutdown(wait=True)
            if batch_state is not None:
                batch_state.unpersist()
            batch_df.unpersist()

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
    return {"prices": prices_dir, "crawl_state": state_dir, "notifications": notif_dir}
