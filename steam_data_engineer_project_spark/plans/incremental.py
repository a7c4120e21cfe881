"""dbt-style incremental materialization for batch marts.

The reference's dbt project rebuilds every model from scratch per run
(materialized='table'); at 100 TB a daily full rebuild is the first thing
that dies. This is the `materialized='incremental'` equivalent: each refresh
transforms ONLY source rows newer than the mart's stored high-watermark and
merges them into the materialized table (last-wins per key), swapped in
atomically with the new watermark. Refresh cost follows the DELTA, not the
mart.

Correctness contract (asserted in tests/test_plans.py): when the transform
is row-local and the merge is last-wins on (key, order), any sequence of
incremental refreshes over a partition of the source equals one full
rebuild — the same associativity argument the streaming pipelines use,
applied to batch.

Durability scope: PROCESS-crash safe (displace-install-delete renames
repaired by :func:`_recover_swap`; torn watermark prevented by tmp +
rename), not power-loss safe — a power-lost refresh at worst loses the
watermark advance and re-feeds the delta, which the last-wins merge
absorbs idempotently. The SOURCE is durable upstream, so nothing here
needs fsync for correctness; corpus_store fsyncs because its artifacts
have no upstream to replay from.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsutil import atomic_write, exclusive_flock, recover_swap, swap_in
from ..operators.merge import upsert_last_wins

_WM_FILE = "_high_watermark"


def _read_watermark(mart_dir: str) -> int | None:
    p = os.path.join(mart_dir, _WM_FILE)
    if os.path.exists(p):
        with open(p) as f:
            return int(f.read().strip())
    return None


def _recover_swap(mart_dir: str) -> None:
    """Repair a refresh the process died inside (fsutil.recover_swap on
    the mart's data dir). The displaced-only torn state matters most
    here: without the restore the next refresh would read an EMPTY
    existing mart and silently drop every row at or below the stored
    watermark — the mart's entire history. A leftover ``data.tmp`` is
    overwritten by the next refresh's ``mode("overwrite")`` write, so it
    needs no repair."""
    data_dir = os.path.join(mart_dir, "data")
    recover_swap(data_dir, f"{data_dir}.old")


def incremental_refresh(
    spark: SparkSession,
    mart_dir: str,
    source: DataFrame,
    transform,
    ts_col: str,
    key_cols: list[str],
    order_col: str,
) -> DataFrame:
    """Refresh the mart at ``mart_dir`` from ``source``.

    ``ts_col`` must be a monotone long (epoch µs) on the SOURCE; only rows
    strictly newer than the stored watermark are fed to ``transform``
    (a row-local DataFrame → DataFrame function whose output contains
    ``key_cols`` + ``order_col``). Returns the refreshed mart DataFrame.
    Idempotent: re-running with no new source rows rewrites nothing.

    Writers SERIALIZE on ``<mart>/_lock`` for the whole refresh: the
    watermark is read-modify-write and the data swap interleaves renames,
    so two concurrent refreshes without the lock could lose a watermark
    advance or tear each other's displace-install sequence. Holding a
    flock across the Spark write is cheap (one fd); readers never lock —
    both the data dir and the watermark are replaced atomically.
    """
    with exclusive_flock(os.path.join(mart_dir, "_lock")):
        return _refresh_locked(
            spark, mart_dir, source, transform, ts_col, key_cols, order_col
        )


def _refresh_locked(
    spark: SparkSession,
    mart_dir: str,
    source: DataFrame,
    transform,
    ts_col: str,
    key_cols: list[str],
    order_col: str,
) -> DataFrame:
    _recover_swap(mart_dir)  # repair a crash-torn data swap first
    wm = _read_watermark(mart_dir)
    fresh = source if wm is None else source.filter(F.col(ts_col) > wm)
    # A job of its own: the no-new-rows exit must decide before any write.
    hi = fresh.agg(F.max(ts_col).alias("m")).collect()[0].m
    if hi is None:
        data_dir = os.path.join(mart_dir, "data")
        if os.path.isdir(data_dir):
            return spark.read.parquet(data_dir)
        # First-ever refresh over an empty source: nothing materialized yet —
        # an empty frame in the mart's schema, not a PATH_NOT_FOUND crash.
        return transform(source.limit(0))
    delta = transform(fresh)

    data_dir = os.path.join(mart_dir, "data")
    existing = (
        spark.read.parquet(data_dir)
        if os.path.isdir(data_dir)
        else delta.limit(0)
    )
    merged = upsert_last_wins(existing, delta, key_cols, order_col)

    tmp = f"{data_dir}.tmp"
    merged.write.mode("overwrite").parquet(tmp)
    swap_in(data_dir, tmp, f"{data_dir}.old")
    # a crash mid-write must not leave a truncated watermark (unreadable,
    # or silently older — the stale-wm replay is idempotent via
    # upsert_last_wins, but a torn int is a hard crash on every later
    # refresh)
    atomic_write(os.path.join(mart_dir, _WM_FILE), str(int(hi)))
    return spark.read.parquet(data_dir)
