"""Observability: named metrics on DataFrames
(mirrors the reference's Prometheus counters/gauges —
monitoring/metrics.py:18-80: games_processed, kafka_messages_total,
queue_size, pipeline_status — minus the pushgateway transport).

``observed`` rides Spark's df.observe(): metrics are computed inside the
job that materializes the DataFrame — zero extra passes, exact, and
read on the driver through the Observation after an action. The engine
takes its row counts and convergence flags this way, not from count jobs
(operators/components.py, corpus_pipeline_e2e's funnel). Each observation
sits directly under the eager ``localCheckpoint()`` that materializes its
frame — the job's RESULT stage, where each partition's metrics merge
exactly once (a failed task attempt adds nothing) — has a name unique in
any plan it appears in, and is read in the same call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def observed(
    df: DataFrame, name: str, metrics: dict[str, "F.Column"] | None = None
) -> tuple[DataFrame, Observation]:
    """Attach an Observation computing ``metrics`` (default: row count) in
    the same job that runs the DataFrame. Read results with
    ``observation.get`` AFTER an action has materialized the frame."""
    obs = Observation(name)
    exprs = metrics or {"rows": F.count(F.lit(1))}
    out = df.observe(obs, *[c.alias(n) for n, c in exprs.items()])
    return out, obs
