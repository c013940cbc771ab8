from nasa_asteroid_data_lakehouse_spark.functions.dates import (
    calendar_parts,
    parse_neows_timestamp,
    with_calendar_parts,
)
from nasa_asteroid_data_lakehouse_spark.functions.keys import surrogate_key

__all__ = [
    "calendar_parts",
    "parse_neows_timestamp",
    "surrogate_key",
    "with_calendar_parts",
]
