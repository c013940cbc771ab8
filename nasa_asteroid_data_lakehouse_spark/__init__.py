"""PySpark-native analytics engine with the query and data-processing
capabilities of the ``nasa-asteroid-data-lakehouse`` reference, rebuilt
Spark-first (DataFrame/SQL/Catalyst/Structured Streaming).

Layout:
  session     -- SparkSession factory tuned for lakehouse workloads
  catalog     -- name->path registry + temp-view registration
  sources/    -- JSON (multiline + JSONL) readers, the ``rest_feed`` and
                 change-feed DataSources, sinks
  operators/  -- relational operators (normalize, profile, dedup, joins,
                 topk, merge-upsert, set ops)
  functions/  -- scalar kits (surrogate keys, calendar)
  plans/      -- headline analytical queries over the star schema
  pipeline/   -- the NeoWs bronze->silver->gold showcase pipeline
  llm/        -- large-scale training-data ops (dedup, similarity,
                 text analysis, multimodal plumbing)
  lake/       -- VersionedTable (manifest-versioned, bucketed table
                 format) and multi-table transactions
  streaming/  -- Structured Streaming mirrors of the batch patterns
"""

from nasa_asteroid_data_lakehouse_spark.session import get_spark
from nasa_asteroid_data_lakehouse_spark.catalog import Catalog, load_tables

__all__ = ["get_spark", "Catalog", "load_tables"]
__version__ = "0.1.0"
