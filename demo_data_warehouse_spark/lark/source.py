"""Incremental source layer: paginated REST shim + watermark state
(SURVEY §2.1 S5/S6, §2.9 ST1-ST3).

The reference pulls Lark Bitable pages (cursor pagination, page size 20;
reference dags/utils/lark.py:39-69) on a 5-minute cron and keeps
per-table high-watermark state in an Airflow Variable
(reference dags/ingestion/lark_to_gcs.py:43-70). Here:

  PaginatedSource   driver-side cursor loop → spark.createDataFrame
                    (the fetch is inherently sequential HTTP; rows land
                    in Spark immediately after)
  StateDoc          JSON state file: {table: {prev_latest_datetime,
                    latest_datetime, latest_ingestion_datetime}}
  incremental_cutoff / advance
                    the same-day replay window: if the last ingestion
                    was today, re-read from prev_latest_datetime (so
                    same-day edits are recaptured); the watermark only
                    commits at day rollover (ST3)
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterable
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..io import atomic_write

DT_FMT = "%Y-%m-%d %H:%M:%S"


class PaginatedSource:
    """Cursor-paginated record source (reference dags/utils/lark.py:39-69).

    fetch_page(page_token) -> (records, next_token, has_more)
    """

    def __init__(self, fetch_page: Callable[[str | None], tuple[list[dict], str | None, bool]]):
        self.fetch_page = fetch_page

    def fetch_all(self) -> list[dict]:
        out: list[dict] = []
        token: str | None = None
        has_more = True
        while has_more:
            records, token, has_more = self.fetch_page(token)
            out.extend(records)
        return out

    def to_df(self, spark: SparkSession, schema) -> DataFrame:
        return spark.createDataFrame(self.fetch_all(), schema)


class StateDoc:
    """Per-table watermark state persisted as a JSON doc
    (Airflow Variable analog, reference dags/ingestion/lark_to_gcs.py:43-70)."""

    def __init__(self, path: str):
        self.path = path

    def load(self) -> dict[str, dict[str, Any]]:
        if os.path.exists(self.path):
            with open(self.path) as f:
                return json.load(f)
        return {}

    def save(self, state: dict[str, dict[str, Any]]) -> None:
        atomic_write(self.path, json.dumps(state, indent=1, sort_keys=True))


def _utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def incremental_cutoff(table_state: dict[str, Any], now: datetime | None = None) -> Any:
    """Pick the watermark to filter '> cutoff' (ST3 same-day replay):
    same-day re-ingestion re-reads from prev_latest_datetime."""
    now = now or _utcnow()
    prev_latest = table_state.get("prev_latest_datetime", 0)
    latest = table_state.get("latest_datetime", 0)
    last_ing = table_state.get("latest_ingestion_datetime")
    last_ing_dt = datetime.strptime(last_ing, DT_FMT) if last_ing else now
    if last_ing_dt.date() == now.date():
        return prev_latest
    return latest


def advance(
    table_state: dict[str, Any],
    new_max: Any,
    rows_ingested: int,
    now: datetime | None = None,
) -> dict[str, Any]:
    """Watermark advance after an ingestion batch: latest always moves,
    prev_latest only commits at day rollover
    (reference dags/ingestion/lark_to_gcs.py:64-70)."""
    now = now or _utcnow()
    if rows_ingested == 0:
        return table_state
    out = dict(table_state)
    last_ing = table_state.get("latest_ingestion_datetime")
    last_ing_dt = datetime.strptime(last_ing, DT_FMT) if last_ing else now
    if last_ing_dt.date() != now.date():
        out["prev_latest_datetime"] = table_state.get("latest_datetime", 0)
    out["latest_datetime"] = new_max
    out["latest_ingestion_datetime"] = now.strftime(DT_FMT)
    return out


def watermark_filter(records: Iterable[dict], ts_field: str, cutoff: Any) -> list[dict]:
    """P8: keep records with ts_field > cutoff (missing field → keep none
    of the comparison — mirrors pandas NaN > x = False)."""
    out = []
    for r in records:
        v = r.get(ts_field)
        if v is not None and v > cutoff:
            out.append(r)
    return out
