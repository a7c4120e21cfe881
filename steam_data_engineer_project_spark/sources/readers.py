"""Schema-declared batch readers (SURVEY.md §2.1 S1-S3) and the incremental
resume pattern (S2/ST8).

Every reader takes an explicit StructType (see ``schemas``) — never
inferSchema, which costs a full extra pass at 100 TB and produces unstable
types. Malformed input is data, not an exception: the JSON reader surfaces
corrupt lines as rows (PERMISSIVE + _corrupt_record) the way the reference's
loader falls back to per-line parsing (etl/load/load_mongo.py:5-23).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: column that carries the raw text of a line the declared schema rejects
CORRUPT_COL = "_corrupt_record"


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S1: CSV batch scan (with a header row) under a declared schema.

    Reference: tasks/steam_tasks_improved.py:231,
    etl/transform/transform_game.py:5, etl/load/load_game_mysql.py:63-64 —
    pandas read_csv calls, here with the column types pinned up front so the
    scan parallelizes per file split and bad casts null out instead of
    poisoning downstream types.
    """
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def read_json_recovering(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """S3: JSON/JSONL scan with corrupt-line recovery.

    Reference: etl/load/load_mongo.py:5-23 — try whole-file json.load, fall
    back to parsing line by line and keeping what parses. Spark-first: one
    PERMISSIVE pass; lines that fail the schema land with every declared
    column null and the raw text in ``CORRUPT_COL``, so callers can route
    valid rows onward and corrupt rows to a quarantine sink — no second
    pass, no driver loop.
    """
    # New StructType, not schema.add() — add() mutates the caller's schema.
    full = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def incremental_resume(
    incoming: DataFrame, processed: DataFrame, key_cols: list[str]
) -> DataFrame:
    """S2/ST8: re-scan skipping already-processed keys.

    Reference: etl/transform/steam_transform_price.py:67-95 +
    utils/common.py:127-140 — re-read the CSV, skip appids already in the
    checkpoint set. Set-oriented: one left_anti join against the processed
    key table (broadcast when small) instead of a per-row membership check.
    """
    return incoming.join(
        processed.select(*key_cols).distinct(), key_cols, "left_anti"
    )
