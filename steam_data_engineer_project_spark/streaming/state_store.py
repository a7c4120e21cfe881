"""Bucketed keyed state store for checkpointed foreachBatch merges.

The round-2 pipelines re-read, re-merged, and rewrote the ENTIRE state table
every micro-batch — correct (the merges are associative) but O(total state)
per batch: at 100× state the rewrite cost grows with lifetime state, not
batch size. This store is the partition-incremental replacement:

- State lives as ``<state_dir>/bucket=K/part-*.parquet`` with
  ``K = pmod(xxhash64(key…), num_buckets)`` — the same hash-partitioned
  layout a cluster deployment would use for co-located upserts.
- A batch only touches the buckets its keys hash into: merge cost is
  O(batch ∪ touched buckets); untouched bucket files are not read, not
  rewritten, and stay byte-identical (asserted in tests/test_streaming.py).
- Each bucket directory carries a ``_last_batch`` marker: the highest
  batch_id merged into it. foreachBatch delivery is at-least-once — after a
  crash the engine replays the in-flight batch — so every merge first drops
  buckets whose marker is already at/past the incoming batch_id. max-style
  fields are naturally idempotent; the marker makes ADDITIVE fields
  (n_events, n_reviews) replay-safe too. The marker file is written into the
  bucket's new directory BEFORE the atomic rename, so state content and its
  progress watermark can never disagree.
- Bucket installation is displace-install-delete (the first two steps are
  atomic renames): the old bucket dir is never deleted before its
  replacement is live, so a crash at ANY instant leaves the old state or
  the new — never neither. The two torn intermediates (old displaced, new
  not yet installed; both present) are repaired by
  :func:`_recover_bucket_swaps` on the next merge or read.

Reference semantics preserved: the merge itself is still the associative
struct-max / additive-count combination of tasks/steam_tasks_improved.py:
481-485 (ON DUPLICATE KEY UPDATE) — only the storage layout changed.

Durability scope: PROCESS-crash safe (every commit point is an atomic
POSIX rename, repaired by _recover_bucket_swaps), not power-loss safe —
markers and renames are not fsynced, deliberately: this store sits behind
a Spark streaming CHECKPOINT, so a power-lost batch is simply redelivered
and re-merged; fsyncing every bucket swap would pay a hot-path sync per
micro-batch for a guarantee the replay already provides. Contrast
corpus_store (long-lived artifacts with no redelivery upstream), which
does fsync its write-ahead ordering. On HDFS/S3 the rename/close
semantics of the object committer provide the equivalent barrier.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsutil import atomic_write, recover_swap, swap_in

#: marker file inside each bucket dir: highest batch_id merged into it.
#: The leading underscore keeps Spark's file listing from reading it as data.
MARKER = "_last_batch"

#: store-level metadata file: the bucket count this store was laid out with.
#: Stored IN the store (not the caller's head) so a restarted pipeline, a
#: different caller, or a post-reshard drain all route keys consistently —
#: a key hashed with the wrong modulus lands in the wrong bucket and forks
#: the state.
META_NUM_BUCKETS = "_num_buckets"

DEFAULT_NUM_BUCKETS = 16


def stored_num_buckets(state_dir: str) -> int | None:
    """The store's laid-out bucket count, or None for a store that doesn't
    exist yet (or predates the metadata file — see resolve_num_buckets)."""
    path = os.path.join(state_dir, META_NUM_BUCKETS)
    if os.path.exists(path):
        with open(path) as f:
            return int(f.read().strip())
    return None


def resolve_num_buckets(state_dir: str, requested: int) -> int:
    """The bucket count to USE for this store: the stored layout wins over
    the caller's argument (which only seeds a brand-new store). Writes the
    metadata on first contact; adopts ``requested`` for a legacy store that
    has bucket dirs but no metadata file (pre-metadata stores were always
    written and read with the caller's constant, so the caller is the only
    source of truth there)."""
    stored = stored_num_buckets(state_dir)
    if stored is not None:
        return stored
    atomic_write(os.path.join(state_dir, META_NUM_BUCKETS), str(requested))
    return requested


def bucket_of(key_cols: list[str], num_buckets: int) -> Column:
    """The bucket id a key row hashes into (engine-internal — the salt never
    crosses engines, so xxhash64 is fine here)."""
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(num_buckets)
    ).cast("int")


def _last_merged(bucket_dir: str) -> int:
    path = os.path.join(bucket_dir, MARKER)
    if os.path.exists(path):
        with open(path) as f:
            return int(f.read().strip())
    return -1


#: prefix of a displaced old bucket directory during a swap. Underscore
#: keeps Spark's listing from ever reading it as data, and NOT starting
#: with ``bucket=`` keeps read_state's own listing blind to it.
_DISPLACED = "_displaced."


def _recover_bucket_swaps(state_dir: str) -> None:
    """Finish or roll back bucket swaps a crash interrupted. The swap
    protocol displaces the old bucket dir by ATOMIC RENAME (never rmtree
    — deleting first would destroy the only copy of the bucket's state
    if the crash lands before the replacement's rename), installs the
    new dir, then deletes the displaced copy. Exactly two torn states
    are possible, both repaired here:

    - displaced exists, live bucket missing (crash between the two
      renames): rename the old state back — the engine will redeliver
      the in-flight batch and the merge redoes it against the restored
      state (its marker is still the pre-batch one);
    - displaced AND live both exist (crash after install, before trash
      deletion): the swap committed; the displaced copy is trash.

    Displaced entries are grouped PER BUCKET and only the highest
    ``.batch=N`` copy is ever restored: if a trash deletion once failed
    silently and a later batch's swap then tore, two displaced copies of
    the same bucket coexist — restoring in raw listdir order could
    rename the OLDER copy back as live and regress the bucket's state
    (and marker) past a checkpoint-committed batch that will not be
    redelivered. The stale lower-batch copies are unconditionally trash.
    """
    if not os.path.isdir(state_dir):
        return
    by_bucket: dict[str, list[tuple[int, str]]] = {}
    for d in os.listdir(state_dir):
        if not d.startswith(_DISPLACED):
            continue
        stem = d[len(_DISPLACED):]
        live_name, _, batch_s = stem.rpartition(".batch=")
        try:
            batch = int(batch_s)
        except ValueError:
            live_name, batch = stem, -1  # pre-suffix protocol: oldest
        by_bucket.setdefault(live_name, []).append((batch, d))
    for live_name, disps in by_bucket.items():
        disps.sort()  # ascending batch: last element is the newest copy
        for _, d in disps[:-1]:  # stale lower-batch copies: always trash
            shutil.rmtree(os.path.join(state_dir, d), ignore_errors=True)
        recover_swap(
            os.path.join(state_dir, live_name),
            os.path.join(state_dir, disps[-1][1]),
        )


def _recover_reshard(state_dir: str) -> None:
    """Finish or roll back a reshard a crash interrupted (the docstring of
    :func:`reshard` describes the one non-atomic instant). Cases:

    - store present: any ``.old`` sibling is a committed swap's trash —
      drop it;
    - store missing, a FULLY-staged ``.reshard-N`` present (its layout
      metadata file is written last, so its presence certifies the stage
      completed): adopt it — that is what the crashed reshard was about
      to do — and drop the displaced ``.old``;
    - store missing, no complete stage: roll the ``.old`` copy back.

    Runs at every read/merge entry, so the window needs no human rename.
    """
    old = f"{state_dir}.old"
    if os.path.isdir(state_dir):
        shutil.rmtree(old, ignore_errors=True)
        return
    # abspath first: a bare relative state_dir splits to parent == '' and
    # the staged-reshard listing would silently be skipped, rolling a
    # fully-staged reshard back to .old instead of adopting it.
    parent, base = os.path.split(os.path.abspath(state_dir))
    staged = sorted(
        os.path.join(parent, d)
        for d in (os.listdir(parent) if os.path.isdir(parent) else [])
        if d.startswith(f"{base}.reshard-")
        and os.path.exists(os.path.join(parent, d, META_NUM_BUCKETS))
    )
    if staged:
        swap_in(state_dir, staged[-1], old)  # adopt; .old is the displaced
    else:
        recover_swap(state_dir, old)  # no certified stage: roll back


def read_state(
    spark: SparkSession, state_dir: str, buckets: list[int] | None = None
) -> DataFrame | None:
    """Read the merged state, or only ``buckets`` of it (partition-pruned:
    unlisted bucket directories are never opened). None when nothing exists
    yet."""
    _recover_reshard(state_dir)  # repair a crash-torn reshard swap first
    if not os.path.isdir(state_dir):
        return None
    _recover_bucket_swaps(state_dir)  # a reader may be first in after a crash
    if buckets is None:
        names = [d for d in os.listdir(state_dir) if d.startswith("bucket=")]
    else:
        names = [f"bucket={b}" for b in buckets]
    paths = [
        os.path.join(state_dir, n)
        for n in names
        if os.path.isdir(os.path.join(state_dir, n))
    ]
    if not paths:
        return None
    # basePath keeps the bucket partition column when reading leaf dirs.
    return spark.read.option("basePath", state_dir).parquet(*paths)


def merge_bucketed(
    spark: SparkSession,
    state_dir: str,
    batch_state: DataFrame,
    key_cols: list[str],
    agg_exprs: list[Column],
    select_back: list,
    batch_id: int,
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    touched: list[int] | None = None,
    fail_after_installing: int | None = None,
) -> None:
    """Merge one micro-batch's per-key rows into the store.

    ``batch_state`` must already be reduced to one row per key for this batch
    (its columns = the state schema). ``agg_exprs``/``select_back`` define the
    associative combine when a key already exists (e.g. struct-max +
    sum-of-counts). Only the buckets whose marker is behind ``batch_id`` are
    read, merged, and atomically swapped — one Spark job for all of them.
    ``touched`` skips the bucket probe when the caller already computed the
    batch's bucket set (e.g. for pre-merge notification reads) — it must
    have been computed with the RESOLVED bucket count
    (``resolve_num_buckets``), which wins over ``num_buckets`` whenever the
    store already exists (e.g. after a reshard).

    ``fail_after_installing`` is the crash-injection hook for the
    partial-install replay tests (the state-store twin of
    CorpusStore.admit's ``fail_after``): raise StoreTornError right after
    the named bucket's swap completes, leaving later pending buckets
    uninstalled — the redelivered batch must merge ONLY those (their
    markers are still behind) without double-counting the installed ones.
    """
    # reshard repair MUST precede resolve_num_buckets: on a store torn
    # between a reshard's renames the dir is missing, and resolving first
    # would re-seed a FRESH store with the caller's bucket constant —
    # forking the layout away from the staged/displaced real state.
    _recover_reshard(state_dir)
    num_buckets = resolve_num_buckets(state_dir, num_buckets)
    _recover_bucket_swaps(state_dir)  # repair any crash-torn swap first
    bucketed = batch_state.withColumn("bucket", bucket_of(key_cols, num_buckets))
    if touched is None:
        # collected first: only these buckets' files are rewritten below
        touched = sorted(
            r.bucket for r in bucketed.select("bucket").distinct().collect()
        )
    pending = [
        b
        for b in touched
        if _last_merged(os.path.join(state_dir, f"bucket={b}")) < batch_id
    ]
    tmp = f"{state_dir}.tmp-{batch_id}"
    if not pending:
        # fully-replayed batch: every touched bucket already has it. A
        # crash after the last install but before tmp cleanup leaves the
        # staging dir orphaned — this retry is the only code that knows
        # the batch id, so sweep it here.
        shutil.rmtree(tmp, ignore_errors=True)
        return
    fresh = bucketed.filter(F.col("bucket").isin(pending))
    cur = read_state(spark, state_dir, pending)
    if cur is not None:
        merged = (
            cur.select(*fresh.columns)
            .unionByName(fresh)
            .groupBy("bucket", *key_cols)
            .agg(*agg_exprs)
            .select("bucket", *select_back)
        )
    else:
        merged = fresh

    (
        merged.repartition(len(pending), "bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(tmp)
    )
    os.makedirs(state_dir, exist_ok=True)
    for b in pending:
        src = os.path.join(tmp, f"bucket={b}")
        with open(os.path.join(src, MARKER), "w") as f:
            f.write(str(batch_id))
        dst = os.path.join(state_dir, f"bucket={b}")
        # displace-install-delete: both renames are atomic, so the old
        # state is never destroyed before its replacement is live (the
        # previous rmtree-then-rename lost the whole bucket if the crash
        # landed between the two — replay then merged against NOTHING and
        # silently dropped every key the bucket held). The torn states
        # this can leave are exactly what _recover_bucket_swaps repairs.
        disp = os.path.join(
            state_dir, f"{_DISPLACED}bucket={b}.batch={batch_id}"
        )
        swap_in(dst, src, disp)
        if fail_after_installing == b:
            from ..corpus_store import StoreTornError

            raise StoreTornError(
                f"injected crash after installing bucket {b} "
                f"(batch {batch_id} partially merged)"
            )
    shutil.rmtree(tmp, ignore_errors=True)


def reshard(
    spark: SparkSession,
    state_dir: str,
    key_cols: list[str],
    new_num_buckets: int,
) -> int:
    """Re-lay the store out with ``new_num_buckets`` in ONE full rewrite
    (the only time this store ever rewrites untouched buckets) — the growth
    path when per-bucket files outgrow a batch's merge budget: double the
    count, pay one linear pass, and every later batch is back to
    O(touched-bucket) cost at half the bucket size.

    MUST run at a quiescent point: stream stopped, last batch's checkpoint
    committed (Trigger.AvailableNow drains end in exactly that state). Every
    new bucket's replay marker is the MAX of the old markers: after a
    committed drain no batch at or below that id can be redelivered, while a
    replay of an id the store never saw still merges. Running this with a
    batch in flight could instead mask that batch's replay — same contract
    as resizing any hash-partitioned store (e.g. you also don't repartition
    a Kafka topic mid-transaction).

    Crash-safe via whole-directory swap: the new layout is staged beside the
    store and renamed in; a crash mid-stage leaves the old store untouched.
    The one non-atomic instant is between the two renames (old layout moved
    to ``<dir>.old``, new not yet moved in): a crash exactly there leaves no
    ``<dir>`` — repaired AUTOMATICALLY by :func:`_recover_reshard` at the
    next read or merge (adopt the fully-staged ``<dir>.reshard-N``, else
    roll ``<dir>.old`` back), and since reshard runs at a quiescent point
    no batch can land in the gap. Returns the new bucket count.
    """
    cur = read_state(spark, state_dir, None)
    # sweep stale stages from ABANDONED reshards (crashed mid-stage, never
    # retried): they carry no metadata certificate, so recovery never
    # adopts them, and leaving them would leak a full store copy each
    parent, base = os.path.split(os.path.abspath(state_dir))
    if os.path.isdir(parent):
        for d in os.listdir(parent):
            if d.startswith(f"{base}.reshard-"):
                shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
    tmp = f"{state_dir}.reshard-{new_num_buckets}"
    if cur is None:  # empty store: just (re)write the metadata
        atomic_write(os.path.join(state_dir, META_NUM_BUCKETS), str(new_num_buckets))
        return new_num_buckets
    marker = max(
        _last_merged(os.path.join(state_dir, d))
        for d in os.listdir(state_dir)
        if d.startswith("bucket=")
    )
    rebucketed = cur.drop("bucket").withColumn(
        "bucket", bucket_of(key_cols, new_num_buckets)
    )
    (
        rebucketed.repartition(new_num_buckets, "bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(tmp)
    )
    for d in os.listdir(tmp):
        if d.startswith("bucket="):
            with open(os.path.join(tmp, d, MARKER), "w") as f:
                f.write(str(marker))
    # the layout metadata is written LAST: its presence is the certificate
    # _recover_reshard uses to tell a fully-staged layout (safe to adopt)
    # from an abandoned partial stage (roll back to .old instead)
    atomic_write(os.path.join(tmp, META_NUM_BUCKETS), str(new_num_buckets))
    old = f"{state_dir}.old"
    shutil.rmtree(old, ignore_errors=True)  # leftover from a prior crash
    swap_in(state_dir, tmp, old)
    return new_num_buckets
