from nasa_asteroid_data_lakehouse_spark.sources.readers import (
    read_json_multiline,
)
from nasa_asteroid_data_lakehouse_spark.sources.writers import (
    write_partitioned,
    write_table,
)

__all__ = [
    "read_json_multiline",
    "write_partitioned",
    "write_table",
]
