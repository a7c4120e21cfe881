"""S7: REST API source — the crawler fan-out re-expressed as a distributed
fetch over an id DataFrame.

Reference: tasks/steam_tasks_improved.py:27-78 (ThreadPool of 20 workers
hitting SteamSpy per appid), tasks/SteamReviewAPIClient.py:20-59,
utils/steam_reviews_crawler_validated_proxies.py:388-494. The Spark-first
shape: the appid list is a DataFrame, ``mapInPandas`` fans each partition
out to a Python worker that fetches its ids, and the typed result lands as a
DataFrame — no driver-side accumulation, retry/backoff per row.

``fetch_fn`` is pluggable: production passes an HTTP client closure; tests
and this offline container pass a deterministic fake. The distribution,
batching, schema, and error-routing are the engine's job and are real.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame


def rest_fetch(
    ids: DataFrame,
    id_col: str,
    fetch_fn: Callable[[int], dict | None],
    result_schema: str,
    *,
    max_retries: int = 3,
    backoff_base_sec: float = 0.1,
) -> DataFrame:
    """Distributed GET-per-id: one ``fetch_fn`` call per id, executed inside
    the partition's Python worker, with retry/exponential backoff
    (config/settings.py:36-41). Failed ids yield a row with null payload
    columns rather than failing the job — the caller routes them to a retry
    queue (the reference's ProcessedTracker failed-set, utils/common.py:52-125).
    """

    # Output column names, parsed from the DDL schema string (top-level commas
    # only, so array<...>/map<k,v>/decimal(p,s) payload columns split
    # correctly). The worker builds every yielded frame against this full
    # column list, so a batch whose fetches ALL failed (API down — the retry
    # path's target scenario) still yields null-payload rows instead of a
    # schema mismatch.
    out_cols, depth, start = [], 0, 0
    for pos, ch in enumerate(result_schema + ","):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            out_cols.append(result_schema[start:pos].strip().split()[0])
            start = pos + 1

    def _fetch(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for i in pdf[id_col]:
                payload = None
                for attempt in range(max_retries):
                    try:
                        payload = fetch_fn(int(i))
                        break
                    except Exception:
                        time.sleep(backoff_base_sec * (2**attempt))
                rows.append({id_col: int(i), **(payload or {})})
            frame = pd.DataFrame(rows, columns=out_cols)
            # Missing payload fields materialize as float NaN, which Arrow
            # rejects for non-numeric columns (array/struct/string) — carry
            # real None so failed fetches stay null in ANY payload type.
            yield frame.astype(object).where(pd.notnull(frame), None)

    return ids.select(id_col).mapInPandas(_fetch, schema=result_schema)
