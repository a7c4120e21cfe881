"""Observability: named metrics on DataFrames
(mirrors the reference's Prometheus counters/gauges —
monitoring/metrics.py:18-80: games_processed, kafka_messages_total,
queue_size, pipeline_status — minus the pushgateway transport).

``observed`` rides Spark's df.observe(): metrics are computed inside the
job that materializes the DataFrame — zero extra passes, exact, and
read on the driver through the Observation after an action.
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
