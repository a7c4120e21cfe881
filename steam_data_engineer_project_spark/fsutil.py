"""Shared crash-protocol primitives for the engine's file-backed stores.

The stores that own on-disk state the engine mutates in place — the
corpus store (generation-flipped artifact slices), the streaming state
store (bucket swaps + reshard), the incremental mart (data-dir swap +
watermark), the append-compaction watermark and the parquet upsert sinks —
share three disciplines; this module is their single implementation, so
the next crash bug has one place to hide:

- **displace-install-delete** (:func:`swap_in` / :func:`recover_swap`):
  replacing a live directory by ATOMIC RENAMES only — the old state is
  displaced aside, never rmtree'd first (deleting first destroys the only
  copy if the crash lands before the replacement's rename). Exactly two
  torn states are possible and :func:`recover_swap` repairs both at the
  next entry: displaced-only (crash between the renames → restore) and
  both-present (crash before trash removal → the swap committed, the
  displaced copy is trash).
- **exclusive writer lock** (:func:`exclusive_flock`): read-modify-write
  metadata (a manifest, a watermark) loses updates under concurrent
  writers; an ``fcntl.flock`` on a sidecar file serializes them across
  processes AND across handles in one process (flock is per-open-file-
  description). Readers never lock — metadata is replaced atomically, so
  a read sees old or new, never torn. Cluster analog: the local flock
  maps to a coordination-service lease, the same single-writer contract
  Delta's commit protocol needs on non-atomic-rename filesystems.
- **atomic durable file write** (:func:`atomic_write`): a small metadata
  file (manifest, watermark, bucket count) is replaced by tmp file +
  fsync + rename + directory fsync, so a reader never sees it torn.

The corpus store's generation flip keeps its own pointer-based protocol
(readers resolve directories through the manifest, so replacement is a
manifest update + orphan sweep, not a rename of a live path) but shares
the lock and the file write here.
"""

from __future__ import annotations

import fcntl
import os
import shutil
import tempfile
from contextlib import contextmanager


@contextmanager
def exclusive_flock(lock_path: str):
    """Hold an exclusive ``fcntl.flock`` on ``lock_path`` (created if
    absent, parent directory too). NOT re-entrant — a holder must never
    re-acquire. See the module docstring for scope and cluster analog."""
    parent = os.path.dirname(lock_path)
    if parent:
        os.makedirs(parent, exist_ok=True)
    fd = os.open(lock_path, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def swap_in(live: str, staged: str, displaced: str) -> None:
    """Install ``staged`` as ``live`` by displace-install-delete: rename
    any existing live dir to ``displaced`` (atomic), rename staged in
    (atomic), then remove the displaced copy. A crash anywhere leaves one
    of the two torn states :func:`recover_swap` repairs; the live path
    never points at a partially-written directory and the old state is
    never destroyed before its replacement is in place.

    A surviving ``displaced`` dir at entry is handled by running
    :func:`recover_swap` first — NOT a blind rmtree: with ``live``
    present the displaced copy is committed trash (a previous swap's
    cleanup rmtree failed) and is swept, which keeps the displace rename
    from raising ENOTEMPTY for callers with no entry-time recovery of
    their own; with ``live`` ABSENT the displaced dir is the ONLY copy
    of the old state (crash between the two renames) and is restored —
    deleting it there would destroy the old state before the
    replacement's rename was even attempted, leaving NOTHING if that
    rename then failed (round-11 ADVICE)."""
    recover_swap(live, displaced)
    if os.path.exists(live):
        os.rename(live, displaced)
    os.rename(staged, live)
    shutil.rmtree(displaced, ignore_errors=True)


def recover_swap(live: str, displaced: str) -> None:
    """Repair a :func:`swap_in` a crash interrupted (call at every store
    entry): displaced-only → the crash landed between the renames, rename
    the old state back (the caller's retry/replay redoes the mutation);
    both present → the swap committed, the displaced copy is trash."""
    if not os.path.isdir(displaced):
        return
    if os.path.isdir(live):
        shutil.rmtree(displaced, ignore_errors=True)
    else:
        os.rename(displaced, live)


def atomic_write(path: str, content: str) -> None:
    """Write ``content`` to ``path`` atomically AND durably: tmp file +
    fsync + os.replace + parent-directory fsync. The rename makes readers
    see the old file or the new one, never a torn write; the two fsyncs
    extend that from process crashes to power loss — without them the
    rename can become durable while the file's data (or the directory
    entry itself) is still only in the page cache, exactly the torn state
    the atomic write exists to prevent (same ordering fsync discipline as
    any write-ahead log)."""
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".tmp_")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(content)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        fsync_dir(d)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


def fsync_dir(path: str) -> None:
    """fsync a directory so a just-renamed/created entry inside it is
    durable (POSIX: rename durability requires syncing the directory,
    not just the file). Best-effort — some filesystems refuse O_RDONLY
    dir fsync; a refusal downgrades to process-crash safety, it never
    corrupts."""
    try:
        dfd = os.open(path, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass
