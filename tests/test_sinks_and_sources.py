"""Unit tests for the sink lifecycle (upsert / insert-ignore against
parquet), the distributed REST fetch source, the webhook sink, and
df.observe metrics — on tiny fixtures with controlled conflicts.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from steam_data_engineer_project_spark.monitoring import observed
from steam_data_engineer_project_spark.sources.rest import rest_fetch
from steam_data_engineer_project_spark.sources.sinks import (
    append_csv_buffered,
    append_parquet,
    foreach_batch_webhook,
    insert_ignore_parquet,
    upsert_parquet,
)

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _work():
    base = os.path.join(REPO_ROOT, ".scratch")
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(prefix="test_sinks_", dir=base)


def test_upsert_and_insert_ignore_sinks(spark):
    work = _work()
    try:
        up_path = os.path.join(work, "upsert")
        ig_path = os.path.join(work, "ignore")
        batch1 = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 10)], ["k", "payload", "ts"]
        )
        batch2 = spark.createDataFrame(
            [(2, "b2", 20), (3, "c", 20)], ["k", "payload", "ts"]
        )
        for b in (batch1, batch2):
            upsert_parquet(spark, b, up_path, ["k"], "ts")
            insert_ignore_parquet(spark, b, ig_path, ["k"], ["ts"])
        up = {r.k: r.payload for r in spark.read.parquet(up_path).collect()}
        ig = {r.k: r.payload for r in spark.read.parquet(ig_path).collect()}
        assert up == {1: "a", 2: "b2", 3: "c"}  # incoming wins
        assert ig == {1: "a", 2: "b", 3: "c"}  # existing kept

        ap_path = os.path.join(work, "append")
        append_parquet(batch1, ap_path)
        append_parquet(batch1, ap_path)
        assert spark.read.parquet(ap_path).count() == 4
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_upsert_sink_keeps_old_rows_when_the_install_rename_fails(
    spark, monkeypatch
):
    """A failure between writing the new table and installing it must not
    cost the old rows: the next upsert still merges onto them."""
    work = _work()
    try:
        path = os.path.join(work, "upsert")
        old = spark.createDataFrame([(1, "a", 10), (2, "b", 10)], ["k", "payload", "ts"])
        new = spark.createDataFrame([(2, "b2", 20), (3, "c", 20)], ["k", "payload", "ts"])
        upsert_parquet(spark, old, path, ["k"], "ts")

        rename = os.rename

        def failing_install(src, dst):
            if src == path + ".tmp":
                raise OSError("injected: install rename failed")
            rename(src, dst)

        monkeypatch.setattr(os, "rename", failing_install)
        with pytest.raises(OSError, match="injected"):
            upsert_parquet(spark, new, path, ["k"], "ts")
        monkeypatch.setattr(os, "rename", rename)

        upsert_parquet(spark, new, path, ["k"], "ts")
        got = {r.k: r.payload for r in spark.read.parquet(path).collect()}
        assert got == {1: "a", 2: "b2", 3: "c"}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_csv_buffered_sink_bounds_file_size_and_appends(spark):
    # S14: every emitted file holds <= the buffer size; append mode grows
    # the directory without rewriting earlier chunks.
    work = _work()
    path = os.path.join(work, "prices_csv")
    df = spark.range(120).select(
        F.col("id").alias("appid"), (F.col("id") * 2).alias("cents")
    )
    append_csv_buffered(df.coalesce(1), path, max_records_per_file=50)
    parts = [f for f in os.listdir(path) if f.startswith("part-")]
    assert len(parts) >= 3  # 120 rows / 50-row buffer
    for f in parts:
        with open(os.path.join(path, f)) as fh:
            n = sum(1 for _ in fh) - 1  # header
        assert n <= 50
    append_csv_buffered(df.coalesce(1), path, max_records_per_file=50)
    back = (
        spark.read.option("header", "true")
        .schema("appid long, cents long")
        .csv(path)
    )
    assert back.count() == 240
    assert back.groupBy().sum("cents").first()[0] == 2 * sum(2 * i for i in range(120))
    shutil.rmtree(work)


def test_rest_fetch_distributed_with_retries(spark):
    calls = {}

    def fake_fetch(i: int) -> dict:
        # flaky endpoint: first attempt for ids % 3 == 0 raises
        calls[i] = calls.get(i, 0) + 1
        if i % 3 == 0 and calls[i] == 1:
            raise OSError("transient")
        if i % 5 == 0:
            return None  # 404-ish: row kept, payload columns null
        return {"name": f"game-{i}", "players": i * 10}

    ids = spark.createDataFrame([(i,) for i in range(1, 21)], ["appid"])
    out = rest_fetch(
        ids.repartition(4),
        "appid",
        fake_fetch,
        "appid long, name string, players long",
    ).collect()
    got = {r.appid: (r.name, r.players) for r in out}
    assert len(got) == 20
    assert got[7] == ("game-7", 70)
    assert got[9] == ("game-9", 90)  # succeeded on retry
    assert got[5] == (None, None)  # null-payload row routed, not dropped


def test_webhook_sink_buffers_messages(spark):
    sent = []
    sink = foreach_batch_webhook(
        sent.append, lambda r: f"price change {r.k}: {r.price}"
    )
    sink(spark.createDataFrame([(1, 9.99), (2, 5.0)], ["k", "price"]), 0)
    assert sorted(sent) == ["price change 1: 9.99", "price change 2: 5.0"]


def test_webhook_sink_caps_oversized_batches(spark):
    sent = []
    sink = foreach_batch_webhook(
        sent.append, lambda r: f"n{r.k}", max_rows_per_batch=5
    )
    sink(spark.createDataFrame([(i,) for i in range(12)], ["k"]), 3)
    # 5 notifications + 1 overflow summary; never 12 collected rows.
    assert len(sent) == 6
    assert sum(1 for m in sent if m.startswith("n")) == 5
    assert any("7 further notifications suppressed" in m for m in sent)


def test_observed_metrics(spark):
    df = spark.createDataFrame([(i, float(i)) for i in range(10)], ["k", "v"])
    out, obs = observed(
        df,
        "probe",
        {"rows": F.count(F.lit(1)), "v_sum": F.sum("v")},
    )
    out.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["rows"] == 10 and got["v_sum"] == 45.0
