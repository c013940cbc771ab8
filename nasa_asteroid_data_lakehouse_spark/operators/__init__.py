from nasa_asteroid_data_lakehouse_spark.operators.dedup import (
    dedup_all_columns,
    dedup_deterministic,
    duplicate_groups,
)
from nasa_asteroid_data_lakehouse_spark.operators.entity import blocked_fuzzy_pairs
from nasa_asteroid_data_lakehouse_spark.operators.expectations import (
    check,
    check_ref_integrity,
    check_unique,
)
from nasa_asteroid_data_lakehouse_spark.operators.joins import anti_join
from nasa_asteroid_data_lakehouse_spark.operators.merge import (
    merge_dataframes,
    read_table_if_exists,
    save_or_update_table,
)
from nasa_asteroid_data_lakehouse_spark.operators.normalize import normalize_placeholders
from nasa_asteroid_data_lakehouse_spark.operators.scd import scd2_compress
from nasa_asteroid_data_lakehouse_spark.operators.profile import profile
from nasa_asteroid_data_lakehouse_spark.operators.skew import (
    salted_agg,
    with_salt,
)
from nasa_asteroid_data_lakehouse_spark.operators.setops import (
    except_rows,
    intersect_rows,
    union_by_name,
)
from nasa_asteroid_data_lakehouse_spark.operators.topk import top_k, top_k_per_group

__all__ = [
    "anti_join",
    "blocked_fuzzy_pairs",
    "check",
    "check_ref_integrity",
    "check_unique",
    "dedup_all_columns",
    "dedup_deterministic",
    "duplicate_groups",
    "except_rows",
    "intersect_rows",
    "merge_dataframes",
    "normalize_placeholders",
    "profile",
    "read_table_if_exists",
    "salted_agg",
    "scd2_compress",
    "with_salt",
    "save_or_update_table",
    "top_k",
    "top_k_per_group",
    "union_by_name",
]
