from .scalars import (
    clean_array_string,
    comma_split,
    date_partition_key,
    format_cents,
    html_strip,
    initial_price,
    initial_price_cents,
    parse_discount,
    parse_release_date,
    to_cents,
)

__all__ = [
    "clean_array_string",
    "comma_split",
    "date_partition_key",
    "format_cents",
    "html_strip",
    "initial_price",
    "initial_price_cents",
    "parse_discount",
    "parse_release_date",
    "to_cents",
]
