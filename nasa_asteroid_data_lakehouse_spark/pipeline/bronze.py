"""Bronze stage: raw NeoWs feed documents into the lake's raw zone.

Parity with the reference's ingest (reference
``src/etl/bronze_ingest.py:18-37``): one JSON document per day, named
``nasa-asteroid-data-{YYYY-MM-DD}.json``.  The fetch is injectable so
tests (and offline environments) supply fixture documents instead of
hitting the NASA API.

Scale note: single-document-per-day is fine for this feed (KB/day); a
high-volume raw zone should read the ``rest_feed`` source
(``sources/pyds.py``, one date window per executor partition) and land
its rows with the JSONL writer.
"""

from __future__ import annotations

import json
import os


def bronze_path(lake_root: str, day: str) -> str:
    return os.path.join(lake_root, "bronze", "JSON", f"nasa-asteroid-data-{day}.json")


def ingest_document(lake_root: str, day: str, document: dict) -> str:
    """Write one feed document to the bronze zone; returns the path."""
    path = bronze_path(lake_root, day)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(document, fh)
    return path
