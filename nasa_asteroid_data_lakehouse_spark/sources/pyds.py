"""Spark 4 Python DataSource: the REST feed as a first-class
``spark.read.format("rest_feed")`` source (batch + structured stream).

This is the engine's one REST source.  It wraps the reference's
date-windowed NeoWs fetch (reference ingestion:
``src/etl/bronze_ingest.py:18-27``) in the V2 Python DataSource
contract, so it composes with everything a DataFrame source composes
with — ``.load()``, schema enforcement, Structured Streaming triggers,
``availableNow`` backfills.

Batch: one ``InputPartition`` per date window — EXECUTORS make the
HTTP calls in parallel (a 10-year daily backfill fans out to ~520
window fetches across the cluster; the driver never touches a
payload).  Streaming: ``SimpleDataSourceStreamReader`` advances one
window per microbatch with replayable offsets — the feed is
low-volume (1 document/window), exactly the case the simple (driver-
side, prefetch-less) stream API is designed for.

Options: ``url`` (required), ``start_date``/``end_date`` (ISO dates),
``days_per_page`` (window width, default 7), ``api_key``.
Rows: (start_date, end_date, payload) — raw JSON strings, the bronze
contract (parse downstream with ``pipeline/silver.py``).
"""

from __future__ import annotations

import json
from datetime import date, timedelta
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StringType, StructField, StructType

SCHEMA = StructType(
    [
        StructField("start_date", StringType()),
        StructField("end_date", StringType()),
        StructField("payload", StringType()),
    ]
)


def _fetch(url: str, params: dict[str, str]) -> str:
    """GET -> raw JSON text.  Runs on executors for batch partitions;
    ``requests`` is an optional dependency, imported on first use."""
    try:
        import requests  # noqa: PLC0415 — optional dependency
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError(
            "requests not installed; rest_feed source needs an HTTP client"
        ) from exc
    resp = requests.get(url, params=params, timeout=60)
    resp.raise_for_status()
    return json.dumps(resp.json())


def _windows(start: str, end: str, days: int) -> list[tuple[str, str]]:
    if days < 1:
        raise ValueError(f"days_per_page must be >= 1, got {days}")
    out = []
    cur = date.fromisoformat(start)
    stop = date.fromisoformat(end)
    while cur <= stop:
        w_end = min(cur + timedelta(days=days - 1), stop)
        out.append((cur.isoformat(), w_end.isoformat()))
        cur = w_end + timedelta(days=1)
    return out


class _Window(InputPartition):
    def __init__(self, start: str, end: str):
        self.start = start
        self.end = end


class _RestFeedReader(DataSourceReader):
    def __init__(self, options: dict):
        self.url = options["url"]
        self.start = options.get("start_date", date.today().isoformat())
        self.end = options.get("end_date", self.start)
        self.days = int(options.get("days_per_page", 7))
        self.api_key = options.get("api_key", "DEMO_KEY")

    def partitions(self) -> list[InputPartition]:
        return [_Window(s, e) for s, e in _windows(self.start, self.end, self.days)]

    def read(self, partition: _Window) -> Iterator[tuple]:
        payload = _fetch(
            self.url,
            {
                "start_date": partition.start,
                "end_date": partition.end,
                "api_key": self.api_key,
            },
        )
        yield (partition.start, partition.end, payload)


class _RestFeedStreamReader(SimpleDataSourceStreamReader):
    """One window per microbatch.  Offsets are {'next_start': iso-date}
    — pure functions of the option range, so checkpoint recovery replays
    identically (readBetweenOffsets re-fetches the covered windows)."""

    def __init__(self, options: dict):
        self.url = options["url"]
        self.start = options.get("start_date", date.today().isoformat())
        self.end = options.get("end_date", self.start)
        self.days = int(options.get("days_per_page", 7))
        self.api_key = options.get("api_key", "DEMO_KEY")

    def initialOffset(self) -> dict:
        return {"next_start": self.start}

    def _window_from(self, start: str) -> tuple[str, str] | None:
        if date.fromisoformat(start) > date.fromisoformat(self.end):
            return None
        w = _windows(start, self.end, self.days)[0]
        return w

    def read(self, start_offset: dict) -> tuple[Iterator[tuple], dict]:
        w = self._window_from(start_offset["next_start"])
        if w is None:
            return iter([]), start_offset
        payload = _fetch(
            self.url,
            {"start_date": w[0], "end_date": w[1], "api_key": self.api_key},
        )
        next_off = {
            "next_start": (
                date.fromisoformat(w[1]) + timedelta(days=1)
            ).isoformat()
        }
        return iter([(w[0], w[1], payload)]), next_off

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        cur = start["next_start"]
        stop = end["next_start"]
        while date.fromisoformat(cur) < date.fromisoformat(stop):
            rows, nxt = self.read({"next_start": cur})
            yield from rows
            if nxt["next_start"] == cur:
                # committed offset lies beyond the currently configured
                # end_date (range narrowed between runs): nothing left
                # to replay — stop instead of spinning forever
                break
            cur = nxt["next_start"]


class RestFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "rest_feed"

    def schema(self) -> StructType:
        return SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return _RestFeedReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        return _RestFeedStreamReader(self.options)


def register(spark) -> None:
    """Make ``spark.read.format('rest_feed')`` /
    ``spark.readStream.format('rest_feed')`` available on this session."""
    spark.dataSource.register(RestFeedDataSource)
