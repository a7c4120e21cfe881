"""Per-query cost budgets, counted in Spark stages.

tests/test_plans.py audits the served plan tree; the budget here counts
what that tree cannot show: the Spark stages one warm invocation runs,
build-time jobs included, read from the driver's status store through
``perfbench.trace.SparkStatus``. A stage count does not move with host
load, so a budget needs no calibration and no headroom.
"""

from __future__ import annotations

import pytest

from perfbench.trace import SparkStatus
from steam_data_engineer_project_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"

#: Stage budget per registry query: the non-skipped Spark stages one WARM
#: invocation runs at sf0.001 — the build (its eager checkpoints, collects
#: and driver-gated jobs) plus the noop write — read from the driver's
#: status store. The Exchange budget in tests/test_plans.py sees only the served plan; the
#: jobs a builder fires before it returns are where an extra pass or a
#: re-computation hides. Stage counts do not move with host load and
#: measured the same at local[2] and local[4], so the pins carry no
#: headroom: a count going UP fails, one going DOWN should be re-pinned.
#: The few that vary between warm runs vary because AQE re-plans a join by
#: whichever stages finished first; those pin the measured maximum and say
#: where. A failure prints the measured entry to paste once the extra work
#: is intended.
STAGE_BUDGET = {
    "ann_exact_suite": 5,
    "ann_ivf_topk": 18,
    "ann_lsh_suite": 7,
    "cdc_suite": 3,
    "corpus_pipeline_e2e": 67,  # 64-66 measured in 63 warm runs (66 in 41); pinned at 67 because the same racing joins gave 82-85 before the funnel counts moved onto the checkpoints (18 stages fewer at each end), the top value in 3 of 67 runs: AQE picks a join's strategy and build side by which of its input stages finished first — seen at the decontamination join and the leakage join, plus one untraced site — and the slower choice adds a broadcast or a shuffle stage at each; the max is pinned
    "corpus_store_suite": 60,  # 59 or 60: AQE plans the span leg's coverage left join (operators/dedup.py:_span_coverage) as a build-left shuffled hash join, or, when the start-list aggregate's input stages finish first, as a broadcast of that aggregate — one more stage; the max is pinned
    "crawl_state_registry": 3,
    "dbt_dim_games_suite": 15,
    "dbt_fact_reviews": 2,
    "dbt_game_quality_metrics": 11,
    "dbt_quality_report": 8,
    "dedup_cluster_canonical": 24,
    "dedup_corpus_lines": 14,
    "dedup_cross_corpus": 45,  # 44 or 45: the same AQE race as corpus_store_suite, over the span leg's coverage left join (operators/dedup.py:_span_coverage)
    "dedup_embedding_cosine": 25,
    "dedup_exact_docs": 8,
    "dedup_minhash_lsh_docs": 8,  # 7 in one of 17 warm runs (not traced); the max is pinned
    "dedup_ngram_jaccard_docs": 6,
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
    "sketch_merge_suite": 19,
    "skew_salted_agg": 3,
    "src_csv_suite": 3,
    "src_json_corrupt_recovery": 1,
    "streaming_review_upsert": 24,
    "streaming_state_suite": 36,
    "streaming_windowed_stats": 13,
    "temporal_join_suite": 5,
    "text_pii_redaction": 2,
    "text_profile_docs": 27,
    "text_repetition_docs": 4,
    "time_filter_suite": 5,
    "window_suite": 4,
}


def _stages_over_budget(spark, name: str, build) -> str | None:
    """Run ``build`` once through the noop sink and count the stages it
    ran; None when the count is within ``name``'s pin, else the failure
    message."""
    status = SparkStatus(spark)
    status.new_jobs()  # drain jobs that ran before this invocation
    build(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    got = sum(len(job["stages"]) for job in status.new_jobs())
    pin = STAGE_BUDGET[name]
    if got <= pin:
        return None
    return (
        f"{name}: {got} stages over its pin of {pin} (an extra pass or a "
        f"recomputation); if intended, re-pin as  \"{name}\": {got},"
    )


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
    msg = _stages_over_budget(spark, name, QUERIES[name].spark)
    assert msg is None, msg


def _assert_plant_fails(spark, planted) -> None:
    msg = _stages_over_budget(spark, "filter_suite", planted)
    assert msg is not None, "the planted pass kept filter_suite within its pin"
    assert msg.startswith("filter_suite: "), msg
    assert f"pin of {STAGE_BUDGET['filter_suite']} " in msg, msg


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
