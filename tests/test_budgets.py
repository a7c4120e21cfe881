"""Per-query cost budgets, counted in Spark stages: the one cost gate.

Each registry query is pinned to the exact number of non-skipped Spark
stages one warm invocation runs, build-time jobs included, read from the
driver's status store through ``perfbench.trace.SparkStatus``. A stage
count does not move with host load, so a pin needs no calibration and no
headroom, and it is checked with ``==``: an added shuffle raises the count
whether it sits in the served plan or behind an eager ``localCheckpoint``,
and a shared frame that stops being shared changes it too — sometimes
DOWN, when its recomputation merges into the consumers' stages.
tests/test_plans.py audits the served plan's shape, not its cost.
"""

from __future__ import annotations

import pytest

from perfbench.trace import SparkStatus
from steam_data_engineer_project_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"

#: Stage pin per registry query: the non-skipped Spark stages one WARM
#: invocation runs at sf0.001 with 8 shuffle partitions — the build (its
#: eager checkpoints, collects and driver-gated jobs) plus the noop write.
#: Every query runs one count, the same at local[2] and local[4]: a join
#: whose strategy AQE would otherwise pick by which input stage finished
#: first has a fixed one (a broadcast where the small side is bounded by
#: construction, else a sort-merge join hint, which spills). A failure
#: says whether the count went up or down and prints the entry to paste
#: once the change is intended.
STAGE_BUDGET = {
    "ann_exact_suite": 5,
    "ann_ivf_topk": 18,
    "ann_lsh_suite": 7,
    "cdc_suite": 3,
    "corpus_pipeline_e2e": 64,  # the decontamination and leakage joins are hinted sort-merge joins, as are the contamination and near-dup pair joins (operators/dedup.py: cross_corpus_contamination, ngram_jaccard_pairs)
    "corpus_store_suite": 60,  # the span leg's start lists and the doc tier's per-batch verdicts broadcast (operators/dedup.py: incremental_duplicated_spans, incremental_dedup_verdicts)
    "crawl_state_registry": 3,
    "dbt_dim_games_suite": 15,
    "dbt_fact_reviews": 2,
    "dbt_game_quality_metrics": 11,
    "dbt_quality_report": 8,
    "dedup_cluster_canonical": 25,  # both pair joins of ngram_jaccard_pairs are hinted sort-merge joins (operators/dedup.py)
    "dedup_corpus_lines": 14,
    "dedup_cross_corpus": 44,  # the same fixed joins as corpus_store_suite, plus the contamination pair list's sort-merge join
    "dedup_embedding_cosine": 25,
    "dedup_exact_docs": 8,
    "dedup_minhash_lsh_docs": 8,  # both signature joins are hinted sort-merge joins (operators/dedup.py:minhash_lsh_candidates)
    "dedup_ngram_jaccard_docs": 7,  # as dedup_cluster_canonical
    "dedup_simhash_docs": 5,
    "dim_star_denorm": 7,
    "duplicate_key_detector": 2,
    "filter_suite": 1,
    "fx_price_suite": 2,
    "fx_text_suite": 4,
    "fx_time_suite": 1,
    "join_membership_suite": 14,
    "kafka_frame_roundtrip": 1,
    "merge_strategies": 8,
    "mm_pipeline": 4,
    "q1_pricing_summary": 2,
    "quality_metrics_fanout": 5,
    "quality_suite": 7,
    "rank_suite": 2,
    "rest_fetch_appdetails": 1,
    "sampling_split_suite": 14,
    "sessionization": 2,
    "set_ops_suite": 7,
    "sketch_merge_suite": 19,  # four sketch families, each one day-keyed pass shared through localCheckpoint and sliced into three per-day summaries before the merge
    "skew_salted_agg": 3,
    "src_csv_suite": 3,
    "src_json_corrupt_recovery": 1,
    "streaming_review_upsert": 24,
    "streaming_state_suite": 36,  # each price batch's prices write starts after the touched-bucket collect has built the batch's cache (streaming/price_pipeline.py)
    "streaming_windowed_stats": 13,
    "temporal_join_suite": 5,
    "text_pii_redaction": 2,
    "text_profile_docs": 27,
    "text_repetition_docs": 4,
    "time_filter_suite": 5,
    "window_suite": 4,
}


def _stages_off_budget(spark, name: str, build) -> str | None:
    """Run ``build`` once through the noop sink and count the stages it
    ran; None when the count equals ``name``'s pin, else the failure
    message."""
    status = SparkStatus(spark)
    status.new_jobs()  # drain jobs that ran before this invocation
    build(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    got = sum(len(job["stages"]) for job in status.new_jobs())
    pin = STAGE_BUDGET[name]
    if got == pin:
        return None
    if got > pin:
        off = f"{got - pin} over its pin of {pin} (an extra pass, shuffle or recomputation)"
    else:
        off = (
            f"{pin - got} under its pin of {pin} (a pass removed, or a shared "
            "frame recomputed inside its consumers)"
        )
    return f"{name}: {got} stages, {off}; if intended, re-pin as  \"{name}\": {got},"


def test_every_query_has_a_stage_budget():
    missing = sorted(set(QUERIES) - set(STAGE_BUDGET))
    assert not missing, f"new queries need a stage budget: {missing}"
    stale = sorted(set(STAGE_BUDGET) - set(QUERIES))
    assert not stale, f"stage budgets for unregistered queries: {stale}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_within_time_budget(spark, plans, name):
    """The query's cost budget, kept in stages rather than seconds.
    ``plans`` has built every query once, so this invocation is warm:
    one-time work (cached fixtures, the corpus store, trained codebooks)
    is already done and the count is the steady-state one."""
    if name not in STAGE_BUDGET:
        pytest.skip("no stage budget yet — covered by the completeness test")
    msg = _stages_off_budget(spark, name, QUERIES[name].spark)
    assert msg is None, msg


def _assert_plant_fails(spark, planted) -> None:
    msg = _stages_off_budget(spark, "filter_suite", planted)
    assert msg is not None, "the planted pass kept filter_suite at its pin"
    assert msg.startswith("filter_suite: "), msg
    assert f"over its pin of {STAGE_BUDGET['filter_suite']} " in msg, msg


def test_stage_budget_fails_a_planted_count(spark, plans):
    """An action on the frame before it is returned — an extra pass."""
    build = QUERIES["filter_suite"].spark

    def planted(s, sf_dir):
        df = build(s, sf_dir)
        df.count()
        return df

    _assert_plant_fails(spark, planted)


def test_stage_budget_fails_a_planted_parquet_write(spark, plans, tmp_path):
    """A write of the frame inside the body — work leaking into the query."""
    build = QUERIES["filter_suite"].spark

    def planted(s, sf_dir):
        df = build(s, sf_dir)
        df.write.parquet(str(tmp_path / "leak"))
        return df

    _assert_plant_fails(spark, planted)


def test_stage_budget_fails_a_planted_shuffle(spark, plans):
    """A repartition of the served frame — one more shuffle."""
    build = QUERIES["filter_suite"].spark
    _assert_plant_fails(spark, lambda s, sf_dir: build(s, sf_dir).repartition(3))


@pytest.mark.parametrize("name", ["dedup_cross_corpus", "sketch_merge_suite"])
def test_stage_budget_fails_a_dropped_share(spark, plans, monkeypatch, name):
    """``localCheckpoint`` returning its frame unmaterialized, so every
    consumer recomputes what the query shares. The classic session calls
    the classic class's method, which overrides the base class's.
    sketch_merge_suite runs more stages; dedup_cross_corpus runs FEWER,
    because the recomputation merges into the consumers' stages."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    monkeypatch.setattr(
        ClassicDataFrame, "localCheckpoint", lambda self, *a, **k: self
    )
    msg = _stages_off_budget(spark, name, QUERIES[name].spark)
    assert msg is not None, f"a dropped share kept {name} at its pin"
