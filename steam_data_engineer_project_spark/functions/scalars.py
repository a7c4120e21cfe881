"""Scalar transform library (SURVEY.md §2.8, F1-F18).

Every function here is a pure Column expression — JVM-side, codegen-friendly,
no Python UDFs — so they stay inside whole-stage codegen in the hot path
(U3: the reference's row-level lambdas re-expressed as native expressions).
Each docstring cites the reference behavior it re-implements
(file:line relative to /root/reference).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_cents(col: Column) -> Column:
    """Parse a price string into integer cents.

    Reference: tasks/steam_tasks_improved.py:322-339 and
    etl/transform/steam_transform_price.py:9-30 — accepts EU comma decimals
    ("12,34" -> 1234), dot decimals ("12.34" -> 1234), bare ints ("12" ->
    1200), and returns null for None/''/garbage.
    """
    # try_cast, not cast: under ANSI mode (Spark 4 default) a plain cast of
    # garbage throws; the reference contract is null-on-failure — and round/
    # multiply propagate that null, so no explicit when() wrapper is needed
    # (one evaluation of the cast instead of two).
    normalized = F.regexp_replace(F.trim(col.cast("string")), ",", ".")
    return F.round(normalized.try_cast("decimal(18,6)") * 100).cast("long")


def format_cents(col: Column) -> Column:
    """Integer cents -> "E,CC" EU display string (integer div/mod 100).

    Reference: tasks/steam_tasks_improved.py:341-347.
    """
    return F.format_string("%d,%02d", (col / 100).cast("long"), col % 100)


def parse_discount(col: Column) -> Column:
    """Strip '%', comma->dot, cast float, default 0.0 on failure.

    Reference: tasks/steam_tasks_improved.py:349-357.
    """
    cleaned = F.regexp_replace(
        F.regexp_replace(F.trim(col.cast("string")), "%", ""), ",", "."
    )
    return F.coalesce(cleaned.try_cast("double"), F.lit(0.0))


def initial_price_cents(current_cents: Column, discount_pct: Column) -> Column:
    """Pre-discount price in cents with the reference's guard rails.

    Reference: tasks/steam_tasks_improved.py:359-371 and
    etl/transform/steam_transform_price.py:50-63 —
    ``current<=0 -> 0``; ``discount<=0 -> current``; ``denominator<=0 ->
    current``; else ``round(current / (1 - d/100))``.
    """
    denom = 1.0 - discount_pct / 100.0
    # floor(x + 0.5) = half-up for the positive price domain — identical
    # across engines, unlike round() whose .5 tie behavior differs (Python's
    # banker's rounding in the reference vs HALF_UP in SQL engines).
    return (
        F.when(current_cents <= 0, F.lit(0).cast("long"))
        .when(discount_pct <= 0, current_cents.cast("long"))
        .when(denom <= 0, current_cents.cast("long"))
        .otherwise(F.floor(current_cents / denom + F.lit(0.5)).cast("long"))
    )


def initial_price(price: Column, discount_pct: Column) -> Column:
    """Float variant used in the live pipeline:
    ``price/(1-discount/100) if discount>0 else price``.

    Reference: tasks/steam_tasks_improved.py:232-239.
    """
    return F.when(
        discount_pct > 0, price / (1.0 - discount_pct / 100.0)
    ).otherwise(price)


def parse_release_date(col: Column) -> Column:
    """Parse '"12 Aug, 2020"'-style dates; null on failure.

    Reference: etl/transform/transform_game.py:21 (pandas
    ``to_datetime(format='%d %b, %Y', errors='coerce')``). try_to_timestamp
    (not to_date) so unparseable input nulls instead of throwing under ANSI.
    """
    return F.try_to_timestamp(col, F.lit("d MMM, yyyy")).cast("date")


def clean_array_string(col: Column, *, language_mode: bool = False) -> Column:
    """Strip ``[ ] '`` characters and collapse whitespace from a stringified
    list; ``language_mode`` additionally strips ``*`` and re-joins trimmed
    CSV items.

    Reference: etl/transform/transform_game.py:8-18.
    """
    stripped = F.regexp_replace(col, r"[\[\]']", "")
    if language_mode:
        stripped = F.regexp_replace(stripped, r"\*", "")
    collapsed = F.trim(F.regexp_replace(stripped, r"\s+", " "))
    if language_mode:
        items = F.split(collapsed, r",\s*")
        return F.array_join(F.transform(items, lambda x: F.trim(x)), ", ")
    return collapsed


def comma_split(col: Column) -> Column:
    """``"A, B"`` -> ``["A","B"]`` for genres/languages/developers/publishers.

    Reference: kafka/producers/kafka_producer_info.py:36-39,
    etl/load/load_game_mysql.py:96-129.
    """
    return F.split(F.trim(col), r",\s*")


def html_strip(col: Column) -> Column:
    """Drop HTML tags and collapse the result, mirroring BeautifulSoup
    ``get_text`` for the simple markup in the crawled requirement fields.

    Reference: etl/extract/steam_crawl_info.py:41-61,
    etl/extract/steam_game_crawler.py:88-93.
    """
    no_tags = F.regexp_replace(col, r"<[^>]+>", " ")
    return F.trim(F.regexp_replace(no_tags, r"\s+", " "))


def date_partition_key(ts: Column | None = None) -> Column:
    """``DDMMYYYY`` date-string partition key in tz Asia/Ho_Chi_Minh.

    Reference: utils/common.py:142-144. The session runs in UTC; only this
    partition key keeps the reference's local timezone.
    """
    base = ts if ts is not None else F.current_timestamp()
    return F.date_format(
        F.from_utc_timestamp(base, "Asia/Ho_Chi_Minh"), "ddMMyyyy"
    )
