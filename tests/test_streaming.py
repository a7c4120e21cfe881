"""Streaming semantics the batch oracle can't see: checkpoint resume
(files processed exactly once across restarts), late-data policy, and
change-notification content across micro-batch boundaries.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest

from steam_data_engineer_project_spark.streaming.price_pipeline import (
    run_price_pipeline,
)

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_events(events_dir: str, fname: str, rows: list[dict]) -> None:
    os.makedirs(events_dir, exist_ok=True)
    with open(os.path.join(events_dir, fname), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _ev(appid, event_id, price, ts_s, discount=0.0):
    return {
        "type": "price",
        "appid": appid,
        "event_id": event_id,
        "discount": discount,
        "price": price,
        "timestamp": float(ts_s),
    }


def test_price_pipeline_resume_late_data_and_notifications(spark):
    base = os.path.join(REPO_ROOT, ".scratch")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="test_stream_", dir=base)
    events_dir = os.path.join(work, "events")
    try:
        # ---- run 1: two keys, one in-run price change
        _write_events(
            events_dir,
            "a.jsonl",
            [_ev(1, 1, 10.0, 100), _ev(1, 2, 12.0, 200), _ev(2, 3, 5.0, 100)],
        )
        out = run_price_pipeline(spark, events_dir, work)
        state = {
            r.appid: r
            for r in spark.read.parquet(out["crawl_state"]).collect()
        }
        assert state[1].last_price == 12.0 and state[1].n_events == 2
        assert state[2].last_price == 5.0 and state[2].n_events == 1
        notifs = spark.read.parquet(out["notifications"]).collect()
        ops = sorted((n.appid, n.op, n.prev_price) for n in notifs)
        assert ops == [(1, "c", None), (1, "u", 10.0), (2, "c", None)]

        # ---- run 2 (restart from checkpoint): an unchanged price, a change,
        # and a LATE event (ts before the stored watermark)
        _write_events(
            events_dir,
            "b.jsonl",
            [
                _ev(1, 4, 12.0, 300),  # same price -> no notification
                _ev(2, 5, 99.0, 50),  # late -> appended, never notifies
                _ev(2, 6, 7.0, 150),  # change vs stored 5.0
            ],
        )
        out = run_price_pipeline(spark, events_dir, work)

        # exactly-once file progress: run-1 events not reprocessed
        state = {
            r.appid: r
            for r in spark.read.parquet(out["crawl_state"]).collect()
        }
        assert state[1].n_events == 3 and state[2].n_events == 3
        # event-time merge: late 99.0 never became the last price
        assert state[1].last_price == 12.0 and state[1].last_ts_us == 300_000_000
        assert state[2].last_price == 7.0 and state[2].last_ts_us == 150_000_000

        # prices table is append-only and keeps the late row
        prices = spark.read.parquet(out["prices"])
        assert prices.count() == 6

        # notifications: only the appid-2 change was added; the late event
        # and the unchanged price notified nothing
        notifs = spark.read.parquet(out["notifications"]).collect()
        ops = sorted((n.appid, n.op, n.prev_price) for n in notifs)
        assert ops == [(1, "c", None), (1, "u", 10.0), (2, "c", None), (2, "u", 5.0)]
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _bucket_files(state_dir: str) -> dict[str, bytes]:
    """bucket-relative path -> file bytes, for every data/marker file."""
    out = {}
    for root, _, files in os.walk(state_dir):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, state_dir)] = fh.read()
    return out


def test_untouched_state_buckets_stay_byte_identical(spark):
    from pyspark.sql import functions as F

    base = os.path.join(REPO_ROOT, ".scratch")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="test_buckets_", dir=base)
    events_dir = os.path.join(work, "events")
    try:
        # Two appids in DIFFERENT state buckets (probed with the store's own
        # hash so the test can't rot if the bucketing changes).
        n_buckets = 4
        cands = spark.sql(
            f"SELECT id, CAST(pmod(xxhash64(id), {n_buckets}) AS INT) AS b "
            "FROM range(1, 40)"
        ).collect()
        by_bucket = {}
        for r in cands:
            by_bucket.setdefault(r.b, r.id)
            if len(by_bucket) == 2:
                break
        (b_hot, a_hot), (b_cold, a_cold) = list(by_bucket.items())[:2]

        _write_events(
            events_dir, "a.jsonl", [_ev(a_hot, 1, 10.0, 100), _ev(a_cold, 2, 5.0, 100)]
        )
        run_price_pipeline(spark, events_dir, work, num_state_buckets=n_buckets)
        state_dir = os.path.join(work, "crawl_state")
        before = _bucket_files(state_dir)

        # Second run touches ONLY a_hot's bucket.
        _write_events(events_dir, "b.jsonl", [_ev(a_hot, 3, 11.0, 200)])
        out = run_price_pipeline(spark, events_dir, work, num_state_buckets=n_buckets)
        after = _bucket_files(state_dir)

        cold_prefix = f"bucket={b_cold}" + os.sep
        hot_prefix = f"bucket={b_hot}" + os.sep
        cold_before = {k: v for k, v in before.items() if k.startswith(cold_prefix)}
        cold_after = {k: v for k, v in after.items() if k.startswith(cold_prefix)}
        assert cold_before and cold_before == cold_after  # not rewritten at all
        assert {k for k in before if k.startswith(hot_prefix)} and before != after

        # and the merged state is still correct
        state = {
            r.appid: r for r in spark.read.parquet(out["crawl_state"]).collect()
        }
        assert state[a_hot].last_price == 11.0 and state[a_hot].n_events == 2
        assert state[a_cold].last_price == 5.0 and state[a_cold].n_events == 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_bucket_swap_crash_never_loses_state(spark):
    """The bucket install is displace-install-delete (atomic renames): a
    crash at either torn instant must not lose the bucket's prior keys.
    Before this protocol the swap was rmtree-then-rename — a crash between
    the two destroyed the only copy of the bucket's state, and the replayed
    batch then merged against NOTHING: every key the bucket held silently
    vanished. Both torn states are staged here exactly as a crash leaves
    them, then the replay (or a plain read) must see the full state."""
    from steam_data_engineer_project_spark.streaming.price_pipeline import (
        _state_aggs,
        _state_back,
        batch_crawl_state,
    )
    from steam_data_engineer_project_spark.streaming.state_store import (
        _DISPLACED,
        merge_bucketed,
        read_state,
    )

    base = os.path.join(REPO_ROOT, ".scratch")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="test_swapcrash_", dir=base)
    state_dir = os.path.join(work, "crawl_state")

    def batch(rows, bid):
        merge_bucketed(
            spark,
            state_dir,
            batch_crawl_state(
                spark.createDataFrame(
                    rows, "appid long, event_id long, price double, ts_us long"
                )
            ),
            ["appid"],
            _state_aggs(),
            _state_back(),
            bid,
            num_buckets=4,
        )

    try:
        batch([(1, 1, 10.0, 100), (2, 2, 5.0, 100)], 0)
        buckets = sorted(
            d for d in os.listdir(state_dir) if d.startswith("bucket=")
        )
        victim = buckets[0]

        # torn state A: crash BETWEEN displace and install — the bucket
        # dir is gone, only the displaced copy survives. The engine then
        # redelivers batch 1; nothing may be lost.
        os.rename(
            os.path.join(state_dir, victim),
            os.path.join(state_dir, f"{_DISPLACED}{victim}.batch=1"),
        )
        batch([(1, 3, 12.0, 200), (2, 4, 6.0, 200)], 1)
        got = {r.appid: r for r in read_state(spark, state_dir).collect()}
        assert got[1].n_events == 2 and got[1].last_price == 12.0
        assert got[2].n_events == 2 and got[2].last_price == 6.0

        # torn state B: crash AFTER install, BEFORE trash deletion — the
        # displaced copy coexists with the live bucket. A plain read must
        # repair (drop the trash) and see only the live state, and the
        # redelivered batch must stay a no-op (marker already advanced).
        shutil.copytree(
            os.path.join(state_dir, victim),
            os.path.join(state_dir, f"{_DISPLACED}{victim}.batch=1"),
        )
        got = {r.appid: r for r in read_state(spark, state_dir).collect()}
        assert got[1].n_events == 2 and got[2].n_events == 2
        assert not any(
            d.startswith(_DISPLACED) for d in os.listdir(state_dir)
        )
        batch([(1, 3, 12.0, 200), (2, 4, 6.0, 200)], 1)  # replay: no-op
        got = {r.appid: r for r in read_state(spark, state_dir).collect()}
        assert got[1].n_events == 2 and got[2].n_events == 2
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_partial_install_crash_then_replay_converges(spark):
    """A crash MID-LOOP — some pending buckets installed with their marker
    at the new batch id, the rest still behind — followed by the engine's
    redelivery must converge to exactly the full merge: the replay merges
    ONLY the uninstalled buckets (their markers gate the additive fields
    against double-counting; the installed buckets are skipped). This is
    the per-bucket-marker protocol's core claim, exercised through the
    injection hook rather than staged dirs."""
    from steam_data_engineer_project_spark.corpus_store import StoreTornError
    from steam_data_engineer_project_spark.streaming.price_pipeline import (
        _state_aggs,
        _state_back,
        batch_crawl_state,
    )
    from steam_data_engineer_project_spark.streaming.state_store import (
        bucket_of,
        merge_bucketed,
        read_state,
    )
    from pyspark.sql import functions as F

    base = os.path.join(REPO_ROOT, ".scratch")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="test_partial_", dir=base)
    state_dir = os.path.join(work, "crawl_state")

    def bs(rows):
        return batch_crawl_state(
            spark.createDataFrame(
                rows, "appid long, event_id long, price double, ts_us long"
            )
        )

    try:
        # appids 1..6 spread over 4 buckets; batch 0 seeds every key
        seed = [(a, a, float(a), 100) for a in range(1, 7)]
        merge_bucketed(
            spark, state_dir, bs(seed), ["appid"], _state_aggs(),
            _state_back(), 0, num_buckets=4,
        )
        # batch 1 touches every key; crash right after the FIRST pending
        # bucket's install
        upd = [(a, 10 + a, float(a) + 1, 200) for a in range(1, 7)]
        b1 = bs(upd)
        touched = sorted(
            r.bucket
            for r in b1.withColumn("bucket", bucket_of(["appid"], 4))
            .select("bucket").distinct().collect()
        )
        with pytest.raises(StoreTornError):
            merge_bucketed(
                spark, state_dir, b1, ["appid"], _state_aggs(),
                _state_back(), 1, num_buckets=4,
                fail_after_installing=touched[0],
            )
        # redelivery: merges only the uninstalled buckets, skips the rest
        merge_bucketed(
            spark, state_dir, bs(upd), ["appid"], _state_aggs(),
            _state_back(), 1, num_buckets=4,
        )
        got = {r.appid: r for r in read_state(spark, state_dir).collect()}
        for a in range(1, 7):
            assert got[a].n_events == 2, (a, got[a])  # no double count
            assert got[a].last_price == float(a) + 1  # nothing lost
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_replayed_batch_does_not_double_count(spark):
    """foreachBatch is at-least-once: merging the SAME batch_id twice must be
    a no-op the second time (bucket markers), so additive n_events survives
    a replay; a LATER batch with the same content still merges."""
    from pyspark.sql import functions as F

    from steam_data_engineer_project_spark.streaming.price_pipeline import (
        _state_aggs,
        _state_back,
        batch_crawl_state,
    )
    from steam_data_engineer_project_spark.streaming.state_store import (
        merge_bucketed,
        read_state,
    )

    base = os.path.join(REPO_ROOT, ".scratch")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="test_replay_", dir=base)
    state_dir = os.path.join(work, "crawl_state")
    try:
        batch = spark.createDataFrame(
            [(1, 1, 10.0, 100), (1, 2, 12.0, 200), (2, 3, 5.0, 100)],
            "appid long, event_id long, price double, ts_us long",
        )
        bs = batch_crawl_state(batch)
        for _ in range(2):  # second call = crash-replay of batch 0
            merge_bucketed(
                spark, state_dir, bs, ["appid"], _state_aggs(), _state_back(), 0
            )
        got = {r.appid: r for r in read_state(spark, state_dir).collect()}
        assert got[1].n_events == 2 and got[1].last_price == 12.0
        assert got[2].n_events == 1

        # a genuinely new batch (id 1) with one more appid-1 event merges
        nxt = batch_crawl_state(
            spark.createDataFrame(
                [(1, 4, 13.0, 300)],
                "appid long, event_id long, price double, ts_us long",
            )
        )
        merge_bucketed(spark, state_dir, nxt, ["appid"], _state_aggs(), _state_back(), 1)
        got = {r.appid: r for r in read_state(spark, state_dir).collect()}
        assert got[1].n_events == 3 and got[1].last_price == 13.0
        assert got[2].n_events == 1  # untouched key unchanged
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_apply_in_pandas_with_state_matches_batch_crawl_state(spark):
    """streaming/stateful.py: the engine-managed (applyInPandasWithState)
    crawl state, drained over multiple micro-batches, must converge to the
    same per-key state as the batch groupBy over all events — the same
    associativity property the external bucketed store is tested for."""
    import pandas as pd

    from pyspark.sql import functions as F

    from steam_data_engineer_project_spark.streaming.price_pipeline import (
        batch_crawl_state,
    )
    from steam_data_engineer_project_spark.streaming.stateful import (
        run_crawl_state_to_table,
    )

    base = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".scratch")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="test_stateful_", dir=base)
    try:
        rows = [
            # (appid, event_id, discount, price, epoch-seconds ts)
            (1, 10, 0.0, 9.99, 100.0),
            (1, 11, 5.0, 7.99, 300.0),
            (2, 12, 0.0, 19.99, 200.0),
            (1, 13, 0.0, 8.49, 200.0),
            (3, 14, 0.0, 1.99, 50.0),
            (2, 15, 0.0, 18.99, 400.0),
        ]
        msgs = spark.createDataFrame(
            [("price", a, e, d, p, t) for a, e, d, p, t in rows],
            "type string, appid long, event_id long, discount double, "
            "price double, timestamp double",
        )
        events_dir = os.path.join(work, "events")
        msgs.repartition(3).write.mode("overwrite").json(events_dir)

        out_dir = run_crawl_state_to_table(
            spark,
            events_dir,
            os.path.join(work, "engine"),
            max_files_per_trigger=1,  # force several micro-batches
        )
        # state really crossed batch boundaries
        assert sum(d.startswith("batch_id=") for d in os.listdir(out_dir)) >= 3
        updates = spark.read.parquet(out_dir).toPandas()
        final = (
            updates.sort_values("batch_id", kind="stable")
            .groupby("appid", as_index=False)
            .last()  # the LAST emission per key is the converged state
            .sort_values("appid")
            .reset_index(drop=True)
        )
        typed = spark.createDataFrame(
            [(a, e, p, int(t * 1_000_000)) for a, e, d, p, t in rows],
            "appid long, event_id long, price double, ts_us long",
        )
        want = (
            batch_crawl_state(typed)
            .orderBy("appid")
            .toPandas()
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            final[want.columns].astype(want.dtypes.to_dict()), want
        )

        # resume from the checkpoint: nothing new to process, so no batch
        # runs — no new commit, and no batch directory is rewritten (a
        # re-run of the last batch would overwrite it with the same rows)
        def snapshot():
            commits = os.path.join(work, "engine", "stateful_checkpoint", "commits")
            batches = {}
            for d in sorted(os.listdir(out_dir)):
                if d.startswith("batch_id="):
                    p = os.path.join(out_dir, d)
                    batches[d] = (
                        os.stat(p).st_mtime_ns,
                        sorted(
                            (f, os.stat(os.path.join(p, f)).st_mtime_ns)
                            for f in os.listdir(p)
                        ),
                    )
            return sorted(os.listdir(commits)), batches

        before = snapshot()
        run_crawl_state_to_table(spark, events_dir, os.path.join(work, "engine"))
        assert snapshot() == before
        assert spark.read.parquet(out_dir).count() == len(updates)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_watermarked_window_finalizes_and_drops_late_data(spark):
    """streaming/windowed.py: append-mode watermarked windows — a window
    emits exactly once, only after the watermark passes its end, and an
    event arriving behind the watermark for a finalized window is dropped
    by the engine (bounded state). Times in epoch seconds; windows are
    1 h tumbling with a 30 min watermark."""
    import json as _json
    import time as _time

    from steam_data_engineer_project_spark.streaming.windowed import (
        run_windowed_to_table,
    )

    H = 3600.0
    base = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".scratch")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="test_window_", dir=base)
    events_dir = os.path.join(work, "events")
    os.makedirs(events_dir)

    def write_file(name, rows):
        with open(os.path.join(events_dir, name), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _time.sleep(1.05)  # distinct mtimes → deterministic batch order

    try:
        # batch 1: 10-11h window gets appid 1 and 2; an 11:40 event will
        # push the watermark past 11:00 so the 10-11h window can finalize.
        write_file(
            "f1.json",
            [
                {"appid": 1, "price": 5.0, "ts": 10 * H + 600},
                {"appid": 2, "price": 7.0, "ts": 10 * H + 1200},
                {"appid": 1, "price": 6.0, "ts": 11 * H + 2400},
            ],
        )
        # batch 2: advances the watermark further (to 12:30 once committed —
        # the watermark a batch FILTERS with is derived from prior batches).
        write_file("f2.json", [{"appid": 2, "price": 9.0, "ts": 13 * H}])
        # batch 3: carries a LATE appid-1 event at 10:05 — far behind the
        # committed watermark, its window long finalized: the engine must
        # drop it (a naive groupBy would count it and bump max_price to 99).
        write_file(
            "f3.json",
            [
                {"appid": 1, "price": 99.0, "ts": 10 * H + 300},  # late
                {"appid": 1, "price": 1.0, "ts": 15 * H},
            ],
        )
        # batch 4: advances the watermark so the 13-14h window emits too.
        write_file("f4.json", [{"appid": 1, "price": 2.0, "ts": 16 * H}])

        out_dir = run_windowed_to_table(spark, events_dir, work)
        got = spark.read.parquet(out_dir).toPandas()
        rows = {
            (int(r.window_start.timestamp()), r.appid): (
                r.n_events,
                r.max_price,
            )
            for r in got.itertuples()
        }
        # finalized windows only: the 15-16h and 16-17h windows are still
        # open at drain end (final watermark 15:30) and must NOT have
        # emitted; the late 10:05 event must not appear anywhere.
        assert rows == {
            (int(10 * H), 1): (1, 5.0),  # late event NOT counted (else 2/99.0)
            (int(10 * H), 2): (1, 7.0),
            (int(11 * H), 1): (1, 6.0),
            (int(13 * H), 2): (1, 9.0),
        }, rows
        assert len(got) == len(rows)  # each window emitted exactly once
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_windowed_replay_order_rides_on_mtime_not_write_order(spark):
    """The file source admits files OLDEST-MTIME-FIRST under
    maxFilesPerTrigger — its ``latestFirst`` option defaults to false and
    only sorts newest-first when set. The windowed fixtures
    (streaming_windowed_stats) encode replay order purely in explicit
    ``os.utime`` stamps, so file CREATION order must be irrelevant: write
    the same four batch files as the test above in REVERSED creation
    order, stamp mtimes in logical order, and the drain must produce
    exactly the in-order result (including dropping the late event)."""
    import json as _json

    from steam_data_engineer_project_spark.streaming.windowed import (
        run_windowed_to_table,
    )

    H = 3600.0
    base = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".scratch")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="test_window_order_", dir=base)
    events_dir = os.path.join(work, "events")
    os.makedirs(events_dir)

    files = {
        "f1.json": [
            {"appid": 1, "price": 5.0, "ts": 10 * H + 600},
            {"appid": 2, "price": 7.0, "ts": 10 * H + 1200},
            {"appid": 1, "price": 6.0, "ts": 11 * H + 2400},
        ],
        "f2.json": [{"appid": 2, "price": 9.0, "ts": 13 * H}],
        "f3.json": [
            {"appid": 1, "price": 99.0, "ts": 10 * H + 300},  # late → dropped
            {"appid": 1, "price": 1.0, "ts": 15 * H},
        ],
        "f4.json": [{"appid": 1, "price": 2.0, "ts": 16 * H}],
    }
    try:
        # Create in REVERSED order...
        for name in sorted(files, reverse=True):
            with open(os.path.join(events_dir, name), "w") as f:
                for r in files[name]:
                    f.write(_json.dumps(r) + "\n")
        # ...then stamp mtimes in LOGICAL order, well apart.
        t0 = os.path.getmtime(os.path.join(events_dir, "f1.json"))
        for i, name in enumerate(sorted(files)):
            os.utime(os.path.join(events_dir, name), (t0 + 2 * i,) * 2)

        out_dir = run_windowed_to_table(spark, events_dir, work)
        got = spark.read.parquet(out_dir).toPandas()
        rows = {
            (int(r.window_start.timestamp()), r.appid): (r.n_events, r.max_price)
            for r in got.itertuples()
        }
        assert rows == {
            (int(10 * H), 1): (1, 5.0),
            (int(10 * H), 2): (1, 7.0),
            (int(11 * H), 1): (1, 6.0),
            (int(13 * H), 2): (1, 9.0),
        }, rows
        assert len(got) == len(rows)  # each window emitted exactly once
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_replayed_batch_preserves_notifications(spark):
    """foreachBatch redelivery after a crash between the notification write
    and the checkpoint commit: the replay reads POST-merge state, so a
    recompute would emit no 'u' rows — the handler must keep a completed
    notification batch dir instead of overwriting it. (Engine-level commit
    deletion trips Spark 4's checkpoint-tampering guard, so the replay is
    exercised at the handler contract: a pre-existing batch output dir.)"""
    base = os.path.join(REPO_ROOT, ".scratch")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="test_replay_notif_", dir=base)
    events_dir = os.path.join(work, "events")
    try:
        _write_events(
            events_dir,
            "a.jsonl",
            [_ev(1, 1, 10.0, 100), _ev(2, 3, 5.0, 100)],
        )
        out = run_price_pipeline(spark, events_dir, work)
        state_before = {
            r.appid: r.n_events
            for r in spark.read.parquet(out["crawl_state"]).collect()
        }

        # Next batch (id=1) will carry a price change — but its notification
        # output "already exists" (first delivery attempt completed before a
        # crash): the handler must leave it untouched and still merge state.
        notif_batch1 = os.path.join(out["notifications"], "batch_id=1")
        os.makedirs(notif_batch1)
        sentinel = os.path.join(notif_batch1, "_first_attempt")
        with open(sentinel, "w") as f:
            f.write("completed")

        _write_events(events_dir, "b.jsonl", [_ev(1, 4, 12.0, 300)])
        out = run_price_pipeline(spark, events_dir, work)

        assert os.listdir(notif_batch1) == ["_first_attempt"], (
            "replayed batch must not rewrite completed notification output"
        )
        state_after = {
            r.appid: r.n_events
            for r in spark.read.parquet(out["crawl_state"]).collect()
        }
        # state STILL merged the new batch (markers, not the notif guard)
        assert state_after[1] == state_before[1] + 1
        assert state_after[2] == state_before[2]
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_reshard_between_drains_preserves_state(spark):
    """state_store.reshard: growing the bucket count at a quiescent point
    (between AvailableNow drains) must preserve every key's state exactly,
    relabel buckets under the new modulus, and OVERRIDE the caller's stale
    bucket-count argument on the next drain (the stored layout wins)."""
    from steam_data_engineer_project_spark.streaming.price_pipeline import (
        batch_crawl_state,
    )
    from steam_data_engineer_project_spark.streaming.state_store import (
        read_state,
        reshard,
        stored_num_buckets,
    )

    base = os.path.join(REPO_ROOT, ".scratch")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="test_reshard_", dir=base)
    events_dir = os.path.join(work, "events")
    state_dir = os.path.join(work, "crawl_state")
    try:
        rows1 = [_ev(a, a * 10 + i, float(a + i), 100 * (i + 1))
                 for a in range(1, 9) for i in range(2)]
        _write_events(events_dir, "a.jsonl", rows1)
        run_price_pipeline(spark, events_dir, work, num_state_buckets=4)
        before = {
            (r.appid): (r.last_ts_us, r.last_event_id, r.last_price, r.n_events)
            for r in read_state(spark, state_dir).collect()
        }

        reshard(spark, state_dir, ["appid"], 8)
        assert stored_num_buckets(state_dir) == 8
        buckets = {d for d in os.listdir(state_dir) if d.startswith("bucket=")}
        assert all(int(b.split("=")[1]) < 8 for b in buckets)
        after = {
            (r.appid): (r.last_ts_us, r.last_event_id, r.last_price, r.n_events)
            for r in read_state(spark, state_dir).collect()
        }
        assert after == before

        # resume the stream; the STALE num_state_buckets=4 argument must be
        # overridden by the stored 8-bucket layout.
        rows2 = [_ev(a, 900 + a, 99.0 + a, 1000) for a in range(1, 9)]
        _write_events(events_dir, "b.jsonl", rows2)
        run_price_pipeline(spark, events_dir, work, num_state_buckets=4)
        assert stored_num_buckets(state_dir) == 8

        # final state == one-shot batch reduction over ALL events (exactness
        # across the reshard boundary).
        allrows = [
            (r["appid"], r["event_id"], r["price"], int(r["timestamp"] * 1_000_000))
            for r in rows1 + rows2
        ]
        typed = spark.createDataFrame(
            allrows, "appid long, event_id long, price double, ts_us long"
        )
        want = {
            (r.appid): (r.last_ts_us, r.last_event_id, r.last_price, r.n_events)
            for r in batch_crawl_state(typed).collect()
        }
        got = {
            (r.appid): (r.last_ts_us, r.last_event_id, r.last_price, r.n_events)
            for r in read_state(spark, state_dir).collect()
        }
        assert got == want
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_reshard_crash_gap_auto_repairs(spark):
    """reshard's one non-atomic instant — old layout displaced to
    ``<dir>.old``, new not yet renamed in — must auto-repair at the next
    read or merge, WITHOUT a human rename: adopt the fully-staged
    ``.reshard-N`` (its metadata certificate was written last), or roll
    ``.old`` back when the stage is incomplete. A merge on the torn store
    must NOT re-seed a fresh layout from the caller's bucket constant."""
    from steam_data_engineer_project_spark.streaming.price_pipeline import (
        _state_aggs,
        _state_back,
        batch_crawl_state,
    )
    from steam_data_engineer_project_spark.streaming.state_store import (
        META_NUM_BUCKETS,
        merge_bucketed,
        read_state,
        reshard,
        stored_num_buckets,
    )

    base = os.path.join(REPO_ROOT, ".scratch")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="test_reshard_crash_", dir=base)
    state_dir = os.path.join(work, "crawl_state")

    def bs(rows):
        return batch_crawl_state(
            spark.createDataFrame(
                rows, "appid long, event_id long, price double, ts_us long"
            )
        )

    try:
        merge_bucketed(
            spark, state_dir, bs([(a, a, float(a), 100) for a in (1, 2, 3)]),
            ["appid"], _state_aggs(), _state_back(), 0, num_buckets=4,
        )
        reshard(spark, state_dir, ["appid"], 8)
        want = {r.appid: r.n_events for r in read_state(spark, state_dir).collect()}

        # torn state 1: crash BETWEEN the renames with a FULLY-staged new
        # layout. Build the stage by running the reshard for real, then
        # rewinding the final rename (so the staged dir is a CONSISTENT
        # 16-bucket layout, exactly what a crashed reshard leaves); the
        # displaced .old's content is irrelevant — recovery discards it.
        reshard(spark, state_dir, ["appid"], 16)
        os.rename(state_dir, f"{state_dir}.reshard-16")
        os.makedirs(f"{state_dir}.old")
        got = {r.appid: r.n_events for r in read_state(spark, state_dir).collect()}
        assert got == want  # adopted, nothing lost
        assert stored_num_buckets(state_dir) == 16
        assert not os.path.isdir(f"{state_dir}.old")

        # torn state 2: crash with an INCOMPLETE stage (no metadata
        # certificate) — roll back to .old; a MERGE (not just a read) must
        # repair before resolving the bucket count, or it would re-seed a
        # fresh store and silently fork the layout
        os.rename(state_dir, f"{state_dir}.old")
        shutil.copytree(f"{state_dir}.old", f"{state_dir}.reshard-32")
        os.unlink(os.path.join(f"{state_dir}.reshard-32", META_NUM_BUCKETS))
        merge_bucketed(
            spark, state_dir, bs([(1, 9, 9.0, 200)]),
            ["appid"], _state_aggs(), _state_back(), 1, num_buckets=4,
        )
        got = {r.appid: r.n_events for r in read_state(spark, state_dir).collect()}
        assert got == {1: 2, 2: 1, 3: 1}  # rolled back + merged, not re-seeded
        assert stored_num_buckets(state_dir) == 16  # layout survived

        # the abandoned certificate-less stage is swept by the next reshard
        reshard(spark, state_dir, ["appid"], 8)
        assert not os.path.isdir(f"{state_dir}.reshard-32")
        assert stored_num_buckets(state_dir) == 8
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_recover_bucket_swaps_restores_newest_displaced(spark):
    """Two displaced copies of the SAME bucket can coexist: a trash
    deletion that once failed silently leaves ``.batch=1`` lingering, and
    a later batch's torn swap adds ``.batch=2`` with the live dir
    missing. Recovery must restore the HIGHEST-batch copy — restoring in
    raw listdir order could rename the older state back as live and
    regress the bucket past a checkpoint-committed batch that will never
    be redelivered."""
    from steam_data_engineer_project_spark.streaming.price_pipeline import (
        _state_aggs,
        _state_back,
        batch_crawl_state,
    )
    from steam_data_engineer_project_spark.streaming.state_store import (
        merge_bucketed,
        read_state,
    )

    base = os.path.join(REPO_ROOT, ".scratch")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="test_swap_regress_", dir=base)
    state_dir = os.path.join(work, "crawl_state")

    def bs(rows):
        return batch_crawl_state(
            spark.createDataFrame(
                rows, "appid long, event_id long, price double, ts_us long"
            )
        )

    try:
        merge_bucketed(
            spark, state_dir, bs([(1, 1, 1.0, 100)]),
            ["appid"], _state_aggs(), _state_back(), 0, num_buckets=4,
        )
        bucket = next(
            d for d in os.listdir(state_dir) if d.startswith("bucket=")
        )
        live = os.path.join(state_dir, bucket)
        post_b0 = os.path.join(work, "post_b0")
        shutil.copytree(live, post_b0)  # the state batch 1's swap displaces

        merge_bucketed(
            spark, state_dir, bs([(1, 2, 2.0, 200)]),
            ["appid"], _state_aggs(), _state_back(), 1, num_buckets=4,
        )

        # the torn layout: batch 1's displaced copy lingers (rmtree once
        # failed silently), batch 2's swap then tore between its renames
        shutil.copytree(post_b0, os.path.join(state_dir, f"_displaced.{bucket}.batch=1"))
        os.rename(live, os.path.join(state_dir, f"_displaced.{bucket}.batch=2"))

        got = {r.appid: r.n_events for r in read_state(spark, state_dir).collect()}
        assert got == {1: 2}, (
            f"recovery restored stale batch-1 state: {got}"
        )
        assert not any(
            d.startswith("_displaced.") for d in os.listdir(state_dir)
        ), "stale displaced copies must be swept"
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_recover_reshard_adopts_stage_for_relative_state_dir(
    spark, monkeypatch
):
    """_recover_reshard must adopt a fully-staged reshard even when the
    caller spells the state dir as a BARE RELATIVE path: splitting the
    un-normalized path yields parent == '' and the staged listing would
    silently be skipped, rolling the reshard back to ``.old`` — safe but
    divergent from the documented recovery."""
    from steam_data_engineer_project_spark.streaming.price_pipeline import (
        _state_aggs,
        _state_back,
        batch_crawl_state,
    )
    from steam_data_engineer_project_spark.streaming.state_store import (
        merge_bucketed,
        read_state,
        reshard,
        stored_num_buckets,
    )

    from steam_data_engineer_project_spark.streaming.state_store import (
        _recover_reshard,
    )

    base = os.path.join(REPO_ROOT, ".scratch")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="test_reshard_rel_", dir=base)
    state_dir = os.path.join(work, "crawl_state")  # absolute: Spark writes
    try:
        merge_bucketed(
            spark,
            state_dir,
            batch_crawl_state(
                spark.createDataFrame(
                    [(a, a, float(a), 100) for a in (1, 2, 3)],
                    "appid long, event_id long, price double, ts_us long",
                )
            ),
            ["appid"], _state_aggs(), _state_back(), 0, num_buckets=4,
        )
        want = {r.appid: r.n_events for r in read_state(spark, state_dir).collect()}

        # crash between reshard's two renames, stage fully certified
        reshard(spark, state_dir, ["appid"], 8)
        os.rename(state_dir, f"{state_dir}.reshard-8")
        os.makedirs(f"{state_dir}.old")

        # the recovery entry gets the BARE RELATIVE spelling (repair is
        # pure-os-path, so the relative call is safe to make directly;
        # Spark reads below stay absolute)
        monkeypatch.chdir(work)
        _recover_reshard("crawl_state")

        got = {r.appid: r.n_events for r in read_state(spark, state_dir).collect()}
        assert got == want
        assert stored_num_buckets(state_dir) == 8, (
            "fully-staged reshard must be adopted, not rolled back"
        )
        assert not os.path.isdir(f"{state_dir}.old")
        assert not os.path.isdir(f"{state_dir}.reshard-8")
    finally:
        monkeypatch.chdir(REPO_ROOT)
        shutil.rmtree(work, ignore_errors=True)


def test_state_store_crash_replay_model_property(spark):
    """Model-based replay check for the bucketed state store (the
    streaming twin of the corpus-store lifecycle property): random
    micro-batch sequences where any batch may crash after installing an
    arbitrary bucket and is then redelivered (at-least-once), with
    quiescent-point reshards interleaved. For EVERY interleaving the
    final store must equal the one-shot batch reduction over all events
    — additive fields applied exactly once per batch, markers and
    resharding never losing or double-counting a key."""
    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st

    from steam_data_engineer_project_spark.corpus_store import StoreTornError
    from steam_data_engineer_project_spark.streaming.price_pipeline import (
        _state_aggs,
        _state_back,
        batch_crawl_state,
    )
    from steam_data_engineer_project_spark.streaming.state_store import (
        bucket_of,
        merge_bucketed,
        read_state,
        reshard,
        resolve_num_buckets,
        stored_num_buckets,
    )

    base = os.path.join(REPO_ROOT, ".scratch")
    os.makedirs(base, exist_ok=True)

    batch_op = st.tuples(
        # events: list of appids (1..6); values derived deterministically
        st.lists(st.integers(1, 6), min_size=1, max_size=5),
        # crash selector: 0 = clean; else crash after touched[sel-1 % n]
        st.integers(0, 4),
        # reshard to this bucket count after the batch (0 = none)
        st.sampled_from([0, 0, 0, 2, 8]),
    )

    counter = [0]

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(batch_op, min_size=1, max_size=4))
    # crash mid-batch, replay, then reshard, then another crashed batch
    @example([([1, 2, 3, 4], 1, 2), ([1, 5], 2, 0)])
    # reshard immediately after the very first batch, then pile on
    @example([([1], 0, 8), ([1, 2, 3], 3, 0), ([6], 1, 0)])
    def check(ops):
        counter[0] += 1
        work = tempfile.mkdtemp(prefix=f"test_ssprop_{counter[0]}_", dir=base)
        state_dir = os.path.join(work, "state")
        try:
            all_events: list[tuple] = []
            eid = 0
            for batch_id, (appids, crash_sel, new_nb) in enumerate(ops):
                rows = []
                for a in appids:
                    eid += 1
                    rows.append((a, eid, float(a + eid % 7), eid * 100))
                all_events.extend(rows)
                df = spark.createDataFrame(
                    rows, "appid long, event_id long, price double, ts_us long"
                )
                bs = batch_crawl_state(df)
                merge = lambda fail=None, b=bs, i=batch_id: merge_bucketed(
                    spark, state_dir, b, ["appid"], _state_aggs(),
                    _state_back(), i, num_buckets=4,
                    fail_after_installing=fail,
                )
                if crash_sel:
                    nb = resolve_num_buckets(state_dir, 4)
                    touched = sorted(
                        r.b
                        for r in bs.select(
                            bucket_of(["appid"], nb).alias("b")
                        ).distinct().collect()
                    )
                    victim = touched[(crash_sel - 1) % len(touched)]
                    with pytest.raises(StoreTornError):
                        merge(fail=victim)
                    merge()  # redelivery completes the batch exactly once
                else:
                    merge()
                if new_nb:
                    reshard(spark, state_dir, ["appid"], new_nb)
                    assert stored_num_buckets(state_dir) == new_nb

            typed = spark.createDataFrame(
                all_events,
                "appid long, event_id long, price double, ts_us long",
            )
            want = {
                r.appid: (r.last_ts_us, r.last_event_id, r.last_price, r.n_events)
                for r in batch_crawl_state(typed).collect()
            }
            got = {
                r.appid: (r.last_ts_us, r.last_event_id, r.last_price, r.n_events)
                for r in read_state(spark, state_dir).collect()
            }
            assert got == want, (ops, got, want)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    check()


def test_compaction_preserves_contents_and_shrinks_files(spark):
    """compaction.compact_appends: folding committed batch_id dirs into a
    consolidated segment must preserve the table's rows exactly (batch_id
    kept as a data column), shrink the file/dir count, keep later appends
    working, and survive repeated runs (multi-segment reads)."""
    from steam_data_engineer_project_spark.streaming.compaction import (
        compact_appends,
        compaction_watermark,
        read_appends,
    )

    def _parquet_files(d):
        return [
            os.path.join(r, f)
            for r, _, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        ]

    base = os.path.join(REPO_ROOT, ".scratch")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="test_compact_", dir=base)
    events_dir = os.path.join(work, "events")
    try:
        rows1 = [_ev(a, a * 100 + i, float(i), 100 * (i + 1))
                 for a in range(1, 5) for i in range(3)]
        for i, r in enumerate(rows1):  # one file per event → many batches
            _write_events(events_dir, f"a{i:02d}.jsonl", [r])
        out = run_price_pipeline(
            spark, events_dir, work, max_files_per_trigger=2
        )
        prices_dir = out["prices"]

        def rowset(df):
            return sorted(
                tuple(r) for r in df.select(sorted(df.columns)).collect()
            )

        before_rows = rowset(read_appends(spark, prices_dir))
        n_dirs_before = len(
            [d for d in os.listdir(prices_dir) if d.startswith("batch_id=")]
        )
        n_files_before = len(_parquet_files(prices_dir))
        assert n_dirs_before >= 3  # many small batch dirs to fold

        w = compact_appends(spark, prices_dir, target_files=1)
        assert compaction_watermark(prices_dir) == w
        assert (
            len([d for d in os.listdir(prices_dir) if d.startswith("batch_id=")])
            == 0
        )
        assert len(_parquet_files(prices_dir)) < n_files_before
        assert rowset(read_appends(spark, prices_dir)) == before_rows

        # the stream keeps appending live dirs after compaction…
        _write_events(events_dir, "b.jsonl", [_ev(9, 999, 42.0, 5000)])
        run_price_pipeline(spark, events_dir, work, max_files_per_trigger=2)
        combined = read_appends(spark, prices_dir)
        assert combined.filter("appid = 9").count() == 1
        combined_rows = rowset(combined)  # materialize BEFORE the fold
        assert len(combined_rows) == len(before_rows) + 1

        # …and a second compaction folds the new tail into a second segment.
        compact_appends(spark, prices_dir, target_files=1)
        assert rowset(read_appends(spark, prices_dir)) == combined_rows
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_compaction_crash_recovery_orphan_segment_and_stale_live_dirs(spark):
    """The crash protocol: (a) an orphan segment written but not
    watermark-committed is invisible to readers and rebuilt by the next
    run; (b) live dirs at/below the watermark (crash after bump, before
    deletion) are ignored by readers and reaped by the next run — no
    duplicates, no loss, at every crash point."""
    import glob

    from steam_data_engineer_project_spark.streaming.compaction import (
        compact_appends,
        compaction_watermark,
        read_appends,
    )

    base = os.path.join(REPO_ROOT, ".scratch")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="test_compact_crash_", dir=base)
    table = os.path.join(work, "prices")
    try:
        for b in range(4):
            spark.createDataFrame(
                [(b * 10 + i, float(b)) for i in range(3)], "id long, v double"
            ).coalesce(1).write.parquet(os.path.join(table, f"batch_id={b}"))

        def rowset():
            df = read_appends(spark, table)
            return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())

        want = rowset()
        assert len(want) == 12

        # (a) crash AFTER segment rename, BEFORE watermark bump: fake the
        # orphan by compacting then rolling the watermark file back.
        compact_appends(spark, table, upto_batch_id=1, target_files=1)
        wfile = os.path.join(table, "_compacted", "_watermark")
        seg = os.path.join(table, "_compacted", "upto=1")
        assert os.path.isdir(seg)
        os.remove(wfile)  # watermark never committed
        # ...but the live dirs 0..1 were also not yet deleted in this crash
        # story — recreate them as the pre-compaction state had them.
        for b in range(2):
            d = os.path.join(table, f"batch_id={b}")
            if not os.path.isdir(d):
                spark.createDataFrame(
                    [(b * 10 + i, float(b)) for i in range(3)],
                    "id long, v double",
                ).coalesce(1).write.parquet(d)
        assert compaction_watermark(table) == -1
        assert rowset() == want  # orphan segment invisible, no dupes/loss

        w = compact_appends(spark, table, target_files=1)  # rebuilds cleanly
        assert w == 3 and rowset() == want

        # (b) crash AFTER watermark bump, BEFORE live-dir deletion: resurrect
        # a stale live dir below the watermark.
        stale = os.path.join(table, "batch_id=2")
        spark.createDataFrame(
            [(20 + i, 2.0) for i in range(3)], "id long, v double"
        ).coalesce(1).write.parquet(stale)
        assert rowset() == want  # reader ignores live ≤ watermark
        compact_appends(spark, table, target_files=1)  # reaps it
        assert not os.path.isdir(stale)
        assert rowset() == want
        # exactly ONE committed segment holds everything (the orphan was
        # reaped before the covering rebuild, and reap-only runs add none)
        segs = glob.glob(os.path.join(table, "_compacted", "upto=*"))
        assert segs == [os.path.join(table, "_compacted", "upto=3")]
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_compaction_crash_mid_segment_write_leaves_readable_table(spark):
    """Crash DURING the segment write (before the atomic rename) leaves an
    ``upto=N.tmp`` staging dir: readers must not try to parse it as a
    segment, and the next compaction run reaps it and folds cleanly."""
    from steam_data_engineer_project_spark.streaming.compaction import (
        compact_appends,
        read_appends,
    )

    base = os.path.join(REPO_ROOT, ".scratch")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="test_compact_tmp_", dir=base)
    table = os.path.join(work, "prices")
    try:
        for b in range(2):
            spark.createDataFrame(
                [(b * 10 + i, float(b)) for i in range(3)], "id long, v double"
            ).coalesce(1).write.parquet(os.path.join(table, f"batch_id={b}"))
        # fake the mid-write crash: a staging dir that never got renamed
        staging = os.path.join(table, "_compacted", "upto=1.tmp")
        spark.createDataFrame(
            [(99, 9.9)], "id long, v double"
        ).coalesce(1).write.parquet(staging)

        def rowset():
            df = read_appends(spark, table)
            return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())

        got = rowset()  # must not raise, must not include staging rows
        assert len(got) == 6
        assert all(r[1] != 99 for r in got)  # columns sorted: batch_id, id, v

        w = compact_appends(spark, table, target_files=1)
        assert w == 1
        assert not os.path.isdir(staging)  # reaped
        final = rowset()
        assert len(final) == 6 and all(r[1] != 99 for r in final)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_streaming_incremental_dedup_matches_batch(spark):
    """The crawl-shaped use of operators/dedup.incremental_dedup_verdicts:
    incoming documents arrive as a file stream and each micro-batch is
    classified against the STATIC corpus inside foreachBatch, verdicts
    appended per batch. Because each incoming doc's verdict depends only
    on (doc, corpus) — never on other incoming docs (the near tier caps
    doc-freq per side, but the incoming side is per-batch and the planted
    fixtures stay far below the cap) — the streamed union of per-batch
    verdicts must equal the one-shot batch classification of all files at
    once. That per-batch = global equivalence is exactly what makes the
    operator safe to run continuously on a crawl."""
    import pyspark.sql.functions as F

    from steam_data_engineer_project_spark.operators.dedup import (
        incremental_dedup_verdicts,
    )

    corpus = spark.createDataFrame(
        [
            (100, "the corpus holds this exact sentence verbatim today"),
            (101, "another document about engines pipelines and storage"),
            (102, "benchmark phrase alpha beta gamma delta epsilon zeta"),
        ],
        "doc_id long, text string",
    )
    batches = [
        [
            (1, "the corpus holds this exact sentence verbatim today"),  # exact
            (2, "totally novel content never seen before in any shard"),
        ],
        [
            (3, "quoting benchmark phrase alpha beta gamma delta epsilon zeta here"),  # near
            (4, "more novel content also never seen before anywhere"),
        ],
    ]
    with tempfile.TemporaryDirectory() as td:
        in_dir = os.path.join(td, "incoming")
        out_dir = os.path.join(td, "verdicts")
        ckpt = os.path.join(td, "ckpt")
        os.makedirs(in_dir)

        def classify(batch_df, batch_id):
            out = incremental_dedup_verdicts(
                corpus, batch_df, "text", "doc_id", n=3, min_shared=2
            )
            out.write.mode("append").parquet(out_dir)

        for i, rows in enumerate(batches):
            _write_events(
                in_dir,
                f"b{i}.jsonl",
                [{"doc_id": d, "text": t} for d, t in rows],
            )
            (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", "1")
                .json(in_dir)
                .writeStream.foreachBatch(classify)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination(120)
            )

        streamed = {
            r.doc_id: (r.verdict, r.n_corpus_matches)
            for r in spark.read.parquet(out_dir).collect()
        }
        incoming_all = spark.createDataFrame(
            [r for b in batches for r in b], "doc_id long, text string"
        )
        batch = {
            r.doc_id: (r.verdict, r.n_corpus_matches)
            for r in incremental_dedup_verdicts(
                corpus, incoming_all, "text", "doc_id", n=3, min_shared=2
            ).collect()
        }
        assert streamed == batch
        assert streamed[1][0] == "exact_dup"
        assert streamed[3][0] == "near_dup"
        assert streamed[2][0] == "new" and streamed[4][0] == "new"


def test_streaming_incremental_semantic_dedup_matches_batch(spark):
    """The embedding sibling of the text test above: incoming VECTORS
    stream in and each micro-batch is classified against the static
    corpus's FROZEN k-means state inside foreachBatch
    (operators/clustering.incremental_semantic_verdicts). Each vector's
    verdict depends only on (vector, corpus) — the corpus clustering is
    deterministic and batch-independent — so the streamed union of
    per-batch verdicts must equal the one-shot classification of all
    batches at once. That equivalence is what makes the operator safe to
    run continuously on a crawl without ever re-clustering the corpus."""
    from steam_data_engineer_project_spark.operators.clustering import (
        incremental_semantic_verdicts,
    )

    corpus = spark.createDataFrame(
        [
            (100, [5.0, 0.0, 0.0, 0.0]),
            (101, [0.0, 5.0, 0.0, 0.0]),
            (102, [3.0, 3.0, 3.0, 3.0]),
            (103, [0.0, 0.0, 5.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    batches = [
        [
            (1, [3.0, 3.0, 3.0, 3.01]),   # twin of corpus 102
            (2, [0.0, 0.0, 0.0, 7.0]),    # novel
        ],
        [
            (3, [5.0, 0.01, 0.0, 0.0]),   # twin of corpus 100
            (4, [-4.0, 4.0, 0.0, 0.0]),   # novel
        ],
    ]
    kw = dict(k=2, n_iter=2, threshold=0.95)
    with tempfile.TemporaryDirectory() as td:
        in_dir = os.path.join(td, "incoming")
        out_dir = os.path.join(td, "verdicts")
        ckpt = os.path.join(td, "ckpt")
        os.makedirs(in_dir)

        def classify(batch_df, batch_id):
            out = incremental_semantic_verdicts(
                corpus, batch_df, "embedding", "vec_id", **kw
            )
            out.write.mode("append").parquet(out_dir)

        for i, rows in enumerate(batches):
            _write_events(
                in_dir,
                f"b{i}.jsonl",
                [{"vec_id": v, "embedding": e} for v, e in rows],
            )
            (
                spark.readStream.schema("vec_id long, embedding array<double>")
                .option("maxFilesPerTrigger", "1")
                .json(in_dir)
                .writeStream.foreachBatch(classify)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination(120)
            )

        streamed = {
            r.vec_id: (r.verdict, r.n_corpus_matches, r.max_cos_micro)
            for r in spark.read.parquet(out_dir).collect()
        }
        incoming_all = spark.createDataFrame(
            [r for b in batches for r in b],
            "vec_id long, embedding array<double>",
        )
        batch = {
            r.vec_id: (r.verdict, r.n_corpus_matches, r.max_cos_micro)
            for r in incremental_semantic_verdicts(
                corpus, incoming_all, "embedding", "vec_id", **kw
            ).collect()
        }
        assert streamed == batch
        assert streamed[1][0] == "semantic_dup"
        assert streamed[3][0] == "semantic_dup"
        assert streamed[2][0] == "new" and streamed[4][0] == "new"


def test_streaming_boilerplate_report_accumulates_to_global(spark):
    """The crawl-shaped use of operators/dedup.boilerplate_lines: each
    micro-batch of crawled docs emits its own min_docs=1 shard report
    (ALL lines, the mergeable form) appended to a stored report table;
    merging the store (count-sum per (shard, line), per-shard re-rank)
    must equal the one-shot report over every doc crawled so far. That
    per-batch-report + merge = global equivalence is what lets a fleet
    keep one small report table per day instead of rescanning the corpus
    for boilerplate."""
    from steam_data_engineer_project_spark.operators.dedup import (
        boilerplate_lines,
        boilerplate_merge,
    )

    batches = [
        [(1, "common banner\nbody one"), (2, "common banner\nbody two")],
        [(3, "common banner\nbody three"), (4, "other footer\nbody four")],
        [(5, "other footer\nbody five"), (6, "common banner\nbody six")],
    ]
    with tempfile.TemporaryDirectory() as td:
        in_dir = os.path.join(td, "incoming")
        rep_dir = os.path.join(td, "reports")
        ckpt = os.path.join(td, "ckpt")
        os.makedirs(in_dir)

        def report(batch_df, batch_id):
            out = boilerplate_lines(
                batch_df, "text", "doc_id",
                min_docs=1, top_m=10**6, n_shards=4,
            )
            out.write.mode("append").parquet(rep_dir)

        for i, rows in enumerate(batches):
            _write_events(
                in_dir,
                f"b{i}.jsonl",
                [{"doc_id": d, "text": t} for d, t in rows],
            )
            (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", "1")
                .json(in_dir)
                .writeStream.foreachBatch(report)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination(120)
            )

        merged = boilerplate_merge([spark.read.parquet(rep_dir)], top_m=5)
        direct = boilerplate_lines(
            spark.createDataFrame(
                [r for b in batches for r in b], "doc_id long, text string"
            ),
            "text",
            "doc_id",
            min_docs=1,
            top_m=5,
            n_shards=4,
        )
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, direct.collect())
        )
        # and the merged counts carry the cross-batch truth: the banner
        # was seen by 4 docs across 3 different batches
        counts = {r.line: r.n_docs for r in merged.collect()}
        assert counts["common banner"] == 4 and counts["other footer"] == 2


def test_streaming_kmv_sketches_accumulate_to_global(spark):
    """The crawl-shaped KMV lifecycle: each micro-batch appends its own
    per-group sketch (k smallest value hashes) to a stored sketch table;
    merging the store must give the identical sketch AND estimate to
    sketching everything crawled so far in one shot — distinct counting
    that composes across days without rescans, including values re-seen
    across batches (the merge's DISTINCT collapses them)."""
    from steam_data_engineer_project_spark.operators.sketches import (
        kmv_estimate_from_sketch,
        kmv_merge,
        kmv_sketch,
    )

    batches = [
        [("en", f"v{i}") for i in range(40)],
        [("en", f"v{i}") for i in range(20, 60)] + [("de", "d0"), ("de", "d1")],
        [("en", f"v{i}") for i in range(50, 90)] + [("de", "d1"), ("de", "d2")],
    ]
    k = 16
    with tempfile.TemporaryDirectory() as td:
        in_dir = os.path.join(td, "incoming")
        sk_dir = os.path.join(td, "sketches")
        ckpt = os.path.join(td, "ckpt")
        os.makedirs(in_dir)

        def sketch(batch_df, batch_id):
            kmv_sketch(batch_df, "lang", "v", k=k).write.mode("append").parquet(
                sk_dir
            )

        for i, rows in enumerate(batches):
            _write_events(
                in_dir, f"b{i}.jsonl", [{"lang": g, "v": v} for g, v in rows]
            )
            (
                spark.readStream.schema("lang string, v string")
                .option("maxFilesPerTrigger", "1")
                .json(in_dir)
                .writeStream.foreachBatch(sketch)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination(120)
            )

        merged = kmv_merge([spark.read.parquet(sk_dir)], "lang", k=k)
        direct = kmv_sketch(
            spark.createDataFrame(
                [r for b in batches for r in b], "lang string, v string"
            ),
            "lang",
            "v",
            k=k,
        )
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, direct.collect())
        )
        est = {
            r.lang: (r.est_distinct, r.sketch_size)
            for r in kmv_estimate_from_sketch(merged, "lang", k=k).collect()
        }
        # de never fills the sketch: exact 3 distinct across batches;
        # en saw 90 distinct values with overlap — estimator engaged
        assert est["de"] == (3, 3)
        assert est["en"][1] == k and 40 <= est["en"][0] <= 300


def test_foreachbatch_composed_store_admission_three_tiers(spark):
    """THE stored-artifact lifecycle, streamed: ONE foreachBatch consumer
    admits three successive crawl batches through a persisted corpus store,
    classifying each batch at ALL THREE incremental tiers (doc-level
    hash+shingle verdicts, span-level substring coverage, embedding-level
    semantic verdicts against the FROZEN base codebook) from the STORE
    tables, then appending the batch's own artifacts (hashes, shingles,
    windows, frozen-state assignments) before the next batch arrives.

    The equivalence asserted: for every batch i, the store-served composed
    verdicts equal a direct rescan classification against base ∪ batches
    <i computed through the non-stored API — so the chained store is
    byte-equivalent to re-reading the growing corpus, at any prefix depth.
    Planted truth pins the chain: batch 2 carries a duplicate of a BATCH-1
    doc and batch 3 of a BATCH-2 doc (text + embedding twins), each only
    catchable if the previous batch's artifacts were actually appended."""
    import tempfile

    from pyspark.sql import functions as F

    from steam_data_engineer_project_spark.operators import (
        assign_with_state,
        incremental_dedup_verdicts,
        incremental_duplicated_spans,
        incremental_semantic_verdicts,
        kmeans_int8,
        normalized_hashes,
        semantic_state_from_table,
        semantic_state_table,
        span_windows,
    )
    from steam_data_engineer_project_spark.operators.dedup import shingle_table

    SCHEMA = "doc_id long, text string, embedding array<double>"
    base_rows = [
        (100, "alpha bravo charlie delta echo", [5.0, 0.0, 0.0, 0.0]),
        (101, "foxtrot golf hotel india juliett kilo", [0.0, 5.0, 0.0, 0.0]),
        (102, "lima mike november oscar papa", [0.0, 0.0, 5.0, 0.0]),
    ]
    batches = [
        [  # vs base: exact+sem twin of 100; span dup of 101's window; novel
            (1, "alpha bravo charlie delta echo", [5.0, 0.01, 0.0, 0.0]),
            (2, "quebec romeo hotel india juliett zulu", [0.0, 0.0, 0.0, 7.0]),
            (3, "sierra tango uniform victor whiskey", [3.0, 3.0, 3.0, 3.0]),
        ],
        [  # doc 4 duplicates BATCH-1 doc 3 (text + embedding twin)
            (4, "sierra tango uniform victor whiskey", [3.0, 3.0, 3.0, 3.01]),
            (5, "xray yankee zulu alpha2 beta2 gamma2", [-5.0, 0.0, 0.0, 0.0]),
        ],
        [  # doc 6 duplicates BATCH-2 doc 5; doc 7 shares doc 5's window
            (6, "xray yankee zulu alpha2 beta2 gamma2", [-5.0, 0.01, 0.0, 0.0]),
            (7, "delta2 echo2 yankee zulu alpha2 foxtrot2", [0.0, -7.0, 0.0, 0.0]),
            (8, "hotel2 india2 juliett2 kilo2", [1.0, -1.0, 1.0, -1.0]),
        ],
    ]
    kw = dict(n=2, min_shared=1)
    W = 3
    base = spark.createDataFrame(base_rows, SCHEMA)
    # the frozen codebook: trained ONCE on the base corpus
    st: list = []
    kmeans_int8(base, "embedding", "doc_id", k=2, n_iter=2, state_out=st).collect()

    with tempfile.TemporaryDirectory() as td:
        in_dir = os.path.join(td, "incoming")
        out_dir = os.path.join(td, "verdicts")
        ckpt = os.path.join(td, "ckpt")
        store = os.path.join(td, "store")
        os.makedirs(in_dir)

        def append_artifacts(df, mode):
            normalized_hashes(df, "text").write.mode(mode).parquet(
                os.path.join(store, "hashes")
            )
            shingle_table(df, "text", "doc_id", n=kw["n"]).write.mode(
                mode
            ).parquet(os.path.join(store, "shingles"))
            span_windows(df, "text", "doc_id", w=W).write.mode(mode).parquet(
                os.path.join(store, "windows")
            )
            assign_with_state(df, "embedding", "doc_id", st).select(
                "doc_id", "qv", "cluster_id"
            ).write.mode(mode).parquet(os.path.join(store, "sem_assigned"))

        append_artifacts(base, "overwrite")
        semantic_state_table(spark, st).write.mode("overwrite").parquet(
            os.path.join(store, "sem_state")
        )

        def classify(batch_df, _bid):
            if batch_df.isEmpty():
                return
            batch_df = batch_df.localCheckpoint()
            rd = lambda n: spark.read.parquet(os.path.join(store, n))
            frozen = semantic_state_from_table(rd("sem_state"))
            docv = incremental_dedup_verdicts(
                None,
                batch_df,
                "text",
                "doc_id",
                corpus_hashes=rd("hashes"),
                corpus_shingles=rd("shingles"),
                **kw,
            )
            spanv = incremental_duplicated_spans(
                None, batch_df, "text", "doc_id", w=W,
                corpus_windows=rd("windows"),
            )
            semv = incremental_semantic_verdicts(
                None,
                batch_df,
                "embedding",
                "doc_id",
                state=frozen,
                corpus_assigned=rd("sem_assigned"),
            )
            composed = (
                docv.select("doc_id", F.col("verdict").alias("doc_verdict"))
                .join(spanv.select("doc_id", "n_dup_tokens", "n_spans"), "doc_id")
                .join(
                    semv.select(
                        "doc_id",
                        F.col("verdict").alias("sem_verdict"),
                        "n_corpus_matches",
                    ),
                    "doc_id",
                )
            )
            composed.write.mode("append").parquet(out_dir)
            # admit: the batch's artifacts join the store AFTER its verdicts
            append_artifacts(batch_df, "append")

        for i, rows in enumerate(batches):
            _write_events(
                in_dir,
                f"b{i}.jsonl",
                [
                    {"doc_id": d, "text": t, "embedding": e}
                    for d, t, e in rows
                ],
            )
            (
                spark.readStream.schema(SCHEMA)
                .option("maxFilesPerTrigger", "1")
                .json(in_dir)
                .writeStream.foreachBatch(classify)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination(120)
            )

        streamed = {
            r.doc_id: (
                r.doc_verdict,
                r.n_dup_tokens,
                r.n_spans,
                r.sem_verdict,
                r.n_corpus_matches,
            )
            for r in spark.read.parquet(out_dir).collect()
        }

    # direct rescan replay, per batch prefix, through the NON-stored API
    want = {}
    for i, rows in enumerate(batches):
        corpus_rows = base_rows + [r for b in batches[:i] for r in b]
        corpus = spark.createDataFrame(corpus_rows, SCHEMA)
        bdf = spark.createDataFrame(rows, SCHEMA)
        docv = {
            r.doc_id: r.verdict
            for r in incremental_dedup_verdicts(
                corpus, bdf, "text", "doc_id", **kw
            ).collect()
        }
        spanv = {
            r.doc_id: (r.n_dup_tokens, r.n_spans)
            for r in incremental_duplicated_spans(
                corpus, bdf, "text", "doc_id", w=W
            ).collect()
        }
        semv = {
            r.doc_id: (r.verdict, r.n_corpus_matches)
            for r in incremental_semantic_verdicts(
                None,
                bdf,
                "embedding",
                "doc_id",
                state=st,
                corpus_assigned=assign_with_state(
                    corpus, "embedding", "doc_id", st
                ),
            ).collect()
        }
        for d, _t, _e in rows:
            want[d] = (docv[d], *spanv[d], *semv[d])

    assert streamed == want, (streamed, want)
    # the chained planted truth: each dup is only catchable via the APPEND
    assert streamed[1][0] == "exact_dup" and streamed[1][3] == "semantic_dup"
    assert streamed[2][1] > 0  # span dup vs the base corpus
    assert streamed[4][0] == "exact_dup"  # duplicate of a BATCH-1 doc
    assert streamed[4][3] == "semantic_dup"
    assert streamed[6][0] == "exact_dup"  # duplicate of a BATCH-2 doc
    assert streamed[6][3] == "semantic_dup"
    assert streamed[7][1] > 0  # shares a BATCH-2 window
    assert streamed[8] == ("new", 0, 0, "new", 0)


def test_store_admission_replay_and_torn_write_safe(spark, tmp_path):
    """foreachBatch is AT-LEAST-ONCE: after a crash the engine redelivers
    the in-flight batch. The round-7 composed chain (previous test)
    admits artifacts with mode('append'), so a redelivered batch would
    DOUBLE-APPEND its shingle and inverted-file rows — shared-shingle
    counts and n_corpus_matches silently double. On CorpusStore the
    admission is keyed by the stream's batch id (per-slice overwrite +
    commit marker), and the serve filters to batch_id < current, so the
    three failure schedules an engine can actually produce — clean,
    redelivery after a TORN admission, redelivery after a COMMITTED
    admission (crash between admit and checkpoint commit) — all converge
    to the identical store and identical per-batch verdicts."""
    from pyspark.sql import functions as F

    from steam_data_engineer_project_spark.corpus_store import (
        CorpusStore,
        StoreTornError,
    )
    from steam_data_engineer_project_spark.operators import (
        assign_with_state,
        incremental_dedup_verdicts,
        kmeans_int8,
        normalized_hashes,
    )
    from steam_data_engineer_project_spark.operators.dedup import shingle_table

    SCHEMA = "doc_id long, text string, embedding array<double>"
    base_rows = [
        (100, "alpha bravo charlie delta echo", [5.0, 0.0, 0.0, 0.0]),
        (101, "foxtrot golf hotel india juliett", [0.0, 5.0, 0.0, 0.0]),
    ]
    batches = [
        [(1, "alpha bravo charlie delta echo", [5.0, 0.01, 0.0, 0.0]),
         (2, "sierra tango uniform victor whiskey", [3.0, 3.0, 3.0, 3.0])],
        [(3, "sierra tango uniform victor whiskey", [3.0, 3.0, 3.0, 3.01]),
         (4, "xray yankee zulu alpha2 beta2", [-5.0, 0.0, 0.0, 0.0])],
        [(5, "xray yankee zulu alpha2 beta2", [-5.0, 0.01, 0.0, 0.0])],
    ]
    kw = dict(n=2, min_shared=1)
    base = spark.createDataFrame(base_rows, SCHEMA)
    st: list = []
    kmeans_int8(base, "embedding", "doc_id", k=2, n_iter=2, state_out=st)

    TABLES = ("hashes", "shingles", "sem_assigned")

    def artifacts(df):
        return {
            "hashes": normalized_hashes(df, "text").select("h"),
            "shingles": shingle_table(df, "text", "doc_id", n=kw["n"]).select(
                "doc_id", "shingle"
            ),
            "sem_assigned": assign_with_state(
                df, "embedding", "doc_id", st
            ).select("doc_id", "qv", "cluster_id"),
        }

    def run_chain(root, schedule):
        """schedule: list of (epoch, fail_after|None) deliveries — the
        engine's actual delivery sequence including redeliveries."""
        store = CorpusStore(str(root), tables=TABLES)
        store.admit(artifacts(base), 0)
        verdicts = {}
        for epoch, fail_after in schedule:
            bid = epoch + 1
            bdf = spark.createDataFrame(batches[epoch], SCHEMA).localCheckpoint()
            older = lambda name: store.read(spark, name).filter(
                F.col("batch_id") < bid
            )
            v = incremental_dedup_verdicts(
                None,
                bdf,
                "text",
                "doc_id",
                corpus_hashes=older("hashes").select("h"),
                corpus_shingles=older("shingles").select("doc_id", "shingle"),
                **kw,
            )
            # per-batch OVERWRITE sink mirrors the admission's idempotency
            # (a replayed epoch rewrites its own slice, never appends)
            rows = {
                r.doc_id: (r.verdict, r.n_corpus_matches, r.max_shared)
                for r in v.collect()
            }
            try:
                store.admit(artifacts(bdf), bid, fail_after=fail_after)
            except StoreTornError:
                continue  # the crash; the engine will redeliver this epoch
            verdicts[bid] = rows
        return verdicts, {
            n: sorted(map(tuple, store.read(spark, n).collect()))
            for n in TABLES
        }

    clean_v, clean_store = run_chain(tmp_path / "clean", [(0, None), (1, None), (2, None)])
    # doc 3 dups a BATCH-1 doc; doc 5 dups a BATCH-2 doc — append truth
    assert clean_v[2][3][0] == "exact_dup"
    assert clean_v[3][5][0] == "exact_dup"

    messy_v, messy_store = run_chain(
        tmp_path / "messy",
        [
            (0, "shingles"),  # torn mid-admission -> redelivered
            (0, None),
            (1, None),
            (1, None),  # crash AFTER commit, BEFORE checkpoint -> redelivered
            (2, None),
        ],
    )
    assert messy_v == clean_v
    assert messy_store == clean_store
