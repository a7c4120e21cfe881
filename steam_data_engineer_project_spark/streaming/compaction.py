"""Compaction for ``batch_id=N`` append tables (prices, notifications).

The streaming sinks write one partition directory per micro-batch —
replay-idempotent (a redelivered batch overwrites its own dir), but over a
long-lived stream the directory count grows without bound: file listing
cost creeps into every read, and each dir holds batch-sized (small) files.
This module folds committed batch dirs into consolidated segment files,
log-structured-merge style:

- live zone:   ``<table>/batch_id=N/part-*.parquet`` (the sinks keep
  writing here, untouched by compaction until folded);
- compacted:   ``<table>/_compacted/upto=W/part-*.parquet`` — each segment
  holds every row of batches ≤ W not already in an earlier segment, with
  ``batch_id`` preserved as a DATA column so no information is lost;
- watermark:   ``<table>/_compacted/_watermark`` — the highest batch_id
  whose rows live in the compacted zone. The underscore prefixes keep Spark
  from listing the compacted zone in a plain ``read.parquet(table)``;
  ``read_appends`` below is the union view.

Crash-safety is ordering, not locking (single-writer, like the sinks):
 1. write segment ``upto=W`` via tmp + atomic rename — a crash before the
    watermark bump leaves an orphan segment no reader looks at (readers
    only trust segments ≤ watermark), and the next compaction run rebuilds
    and replaces it;
 2. bump the watermark (tmp + rename, atomic on POSIX — this local-FS
    assumption is shared with the sinks; an object-store deployment would
    route these renames through a commit service or Delta-style log);
 3. delete the folded live dirs — a crash in between leaves live dirs ≤ W
    that every reader ignores, reaped by the next run.

Only run against batches the stream's checkpoint has COMMITTED (a
Trigger.AvailableNow drain ends in that state): a replay of batch N ≤ W
would overwrite-and-recreate a live dir the reader ignores — harmless for
content but wasted work, and the contract is cleaner stated as
"compaction trails the checkpoint".

Durability scope: PROCESS-crash safe (ordering + atomic renames, orphans
reaped by the next run), not power-loss safe — a power-lost compaction at
worst loses the watermark bump, and the next run simply refolds the same
live dirs (they are only deleted AFTER the bump, so no rows can be lost).
No fsync needed for correctness here; corpus_store fsyncs because its
markers gate data that has no upstream to refold from.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsutil import atomic_write

_COMPACTED = "_compacted"
_WATERMARK = "_watermark"


def _compacted_dir(table_dir: str) -> str:
    return os.path.join(table_dir, _COMPACTED)


def _dir_value(name: str, prefix: str) -> int | None:
    """``'upto=12'`` → 12; None for anything unparsable — notably the
    ``upto=12.tmp`` staging dirs a crashed run leaves behind, which must
    never be read as segments (and are reaped by :func:`compact_appends`)."""
    if not name.startswith(prefix):
        return None
    try:
        return int(name.split("=", 1)[1])
    except ValueError:
        return None


def compaction_watermark(table_dir: str) -> int:
    """Highest batch_id folded into the compacted zone; -1 if none."""
    path = os.path.join(_compacted_dir(table_dir), _WATERMARK)
    if os.path.exists(path):
        with open(path) as f:
            return int(f.read().strip())
    return -1


def _live_batches(table_dir: str) -> list[int]:
    if not os.path.isdir(table_dir):
        return []
    return sorted(
        v
        for d in os.listdir(table_dir)
        if (v := _dir_value(d, "batch_id=")) is not None
    )


def _segments(table_dir: str, upto: int) -> list[str]:
    """Committed segment dirs (≤ watermark), oldest first."""
    cdir = _compacted_dir(table_dir)
    if not os.path.isdir(cdir):
        return []
    vals = sorted(
        v for d in os.listdir(cdir) if (v := _dir_value(d, "upto=")) is not None
    )
    return [os.path.join(cdir, f"upto={v}") for v in vals if v <= upto]


def read_appends(spark: SparkSession, table_dir: str) -> DataFrame | None:
    """The table's full content: committed compacted segments + live batch
    dirs above the watermark — identical rows and schema (``batch_id`` as a
    long data column) whether or not compaction ever ran. None if empty."""
    w = compaction_watermark(table_dir)
    parts: list[DataFrame] = []
    segs = _segments(table_dir, w)
    if segs:
        parts.append(spark.read.parquet(*segs))
    live = [b for b in _live_batches(table_dir) if b > w]
    if live:
        df = spark.read.option("basePath", table_dir).parquet(
            *[os.path.join(table_dir, f"batch_id={b}") for b in live]
        )
        parts.append(df.withColumn("batch_id", F.col("batch_id").cast("long")))
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def compact_appends(
    spark: SparkSession,
    table_dir: str,
    upto_batch_id: int | None = None,
    target_files: int = 4,
) -> int:
    """Fold live batch dirs with batch_id ≤ ``upto_batch_id`` (default: all
    of them) into one consolidated segment of ``target_files`` parquet
    files. Size ``target_files`` so each file lands near the 128 MB–1 GB
    sweet spot at the deployment's batch volume. Returns the new watermark
    (unchanged if there was nothing to fold)."""
    w = compaction_watermark(table_dir)
    for b in _live_batches(table_dir):  # reap dirs a crashed run folded
        if b <= w:                      # but didn't get to delete
            shutil.rmtree(
                os.path.join(table_dir, f"batch_id={b}"), ignore_errors=True
            )
    cdir0 = _compacted_dir(table_dir)
    if os.path.isdir(cdir0):
        for d in os.listdir(cdir0):  # reap ORPHAN segments (> watermark) and
            v = _dir_value(d, "upto=")  # .tmp staging dirs from crashed runs:
            if (v is not None and v > w) or (
                d.startswith("upto=") and d.endswith(".tmp")
            ):
                # written by a run that crashed before its watermark bump —
                # readers never saw them, and this run may fold the same
                # batches into a new segment, so leaving one would duplicate
                shutil.rmtree(os.path.join(cdir0, d), ignore_errors=True)
    live = [b for b in _live_batches(table_dir) if b > w]
    if upto_batch_id is not None:
        live = [b for b in live if b <= upto_batch_id]
    if not live:
        return w
    new_w = max(live)
    src = spark.read.option("basePath", table_dir).parquet(
        *[os.path.join(table_dir, f"batch_id={b}") for b in live]
    )
    src = src.withColumn("batch_id", F.col("batch_id").cast("long"))

    cdir = _compacted_dir(table_dir)
    os.makedirs(cdir, exist_ok=True)
    seg = os.path.join(cdir, f"upto={new_w}")
    tmp = f"{seg}.tmp"
    src.coalesce(target_files).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(seg, ignore_errors=True)  # orphan from a crashed run
    os.rename(tmp, seg)

    atomic_write(os.path.join(cdir, _WATERMARK), str(new_w))

    for b in live:
        shutil.rmtree(os.path.join(table_dir, f"batch_id={b}"), ignore_errors=True)
    return new_w
