"""Declared StructTypes for the files and message envelopes the engine reads
(SURVEY.md §1). Schema-on-read everywhere: readers NEVER infer schemas —
inference is a full extra pass at 100 TB and produces unstable types.

Each schema cites the reference shape it mirrors (file:line under
/root/reference).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# File shapes (SURVEY §1.4)
# ---------------------------------------------------------------------------

#: raw price crawl CSV `appid,discount,price` — etl/extract/steam_crawl_price.py:14-17
PRICE_RAW_CSV = T.StructType(
    [
        T.StructField("appid", T.LongType(), True),
        T.StructField("discount", T.StringType(), True),  # "50%" / "50"
        T.StructField("price", T.StringType(), True),  # EU comma decimals
    ]
)

# ---------------------------------------------------------------------------
# Message envelopes (SURVEY §1.3)
# ---------------------------------------------------------------------------

#: price event (`steam-dynamic-price`) — tasks/steam_tasks_improved.py:396-404.
#: `timestamp` is epoch SECONDS as double, exactly as the reference publishes;
#: `event_id` is the producer message id used for deterministic tie-breaks.
PRICE_EVENT = T.StructType(
    [
        T.StructField("type", T.StringType(), True),
        T.StructField("appid", T.LongType(), True),
        T.StructField("event_id", T.LongType(), True),
        T.StructField("discount", T.DoubleType(), True),
        T.StructField("price", T.DoubleType(), True),
        T.StructField("initial_price", T.DoubleType(), True),
        T.StructField("timestamp", T.DoubleType(), True),
    ]
)

#: review event (`steam-reviews`) — tasks/steam_review_task_improved.py:386-405
REVIEW_EVENT = T.StructType(
    [
        T.StructField("appid", T.LongType(), True),
        T.StructField("recommendationid", T.StringType(), True),
        T.StructField("author_steamid", T.StringType(), True),
        T.StructField("language", T.StringType(), True),
        T.StructField("voted_up", T.BooleanType(), True),
        T.StructField("votes_up", T.LongType(), True),
        T.StructField("timestamp_created", T.LongType(), True),  # epoch seconds
    ]
)
