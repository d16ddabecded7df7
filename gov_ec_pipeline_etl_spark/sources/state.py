"""Incremental change-detection state (SURVEY.md §2.2 I1-I5).

Semantics preserved from the reference (etl/extract.py:72-105, 159-183):
- fingerprint = {id, last_modified (ISO-UTC normalized), size, url, format}
- diff: no prior fp → "new"; any of the 4 tracked fields changed →
  re-process with a reasons list; else unchanged
- state saved as sorted/indented JSON, written atomically (tmp + rename)
- commit gating (promote only after a clean sink write) lives in the
  pipeline orchestrator

This is catalog-scale metadata (thousands of entries) so it stays
driver-side — the per-FILE granularity is the point: at 100 TB the same
role is played by Structured Streaming's file-source log or a Delta txn
log, and this module is the batch-mode equivalent.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass
from typing import Any

from gov_ec_pipeline_etl_spark.sinks.snapshot import write_json

TRACKED_FIELDS = ("last_modified", "size", "url", "format")


@dataclass
class ResourceState:
    resources: dict[str, dict[str, Any]]

    @classmethod
    def empty(cls) -> "ResourceState":
        return cls(resources={})


def normalize_dt(value: Any) -> str | None:
    """Any parseable timestamp → 'YYYY-MM-DDTHH:MM:SSZ' (UTC)."""
    if value is None or value == "":
        return None
    if isinstance(value, dt.datetime):
        d = value
    else:
        s = str(value).strip().replace("Z", "+00:00")
        try:
            d = dt.datetime.fromisoformat(s)
        except ValueError:
            return str(value)
    if d.tzinfo is None:
        d = d.replace(tzinfo=dt.timezone.utc)
    return d.astimezone(dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def fingerprint(resource: dict[str, Any]) -> dict[str, Any]:
    return {
        "id": resource.get("id"),
        "last_modified": normalize_dt(resource.get("last_modified")),
        "size": resource.get("size"),
        "url": resource.get("url"),
        "format": resource.get("format"),
    }


def diff_resources(
    resources: list[dict[str, Any]], prev: ResourceState
) -> tuple[list[dict], list[dict], dict[str, list[str]]]:
    """Return (to_process, unchanged, reasons_by_id)."""
    to_process: list[dict] = []
    unchanged: list[dict] = []
    reasons: dict[str, list[str]] = {}
    for res in resources:
        fp = fingerprint(res)
        rid = fp["id"]
        old = prev.resources.get(rid)
        if old is None:
            to_process.append(res)
            reasons[rid] = ["new"]
            continue
        changed = [f for f in TRACKED_FIELDS if old.get(f) != fp.get(f)]
        if changed:
            to_process.append(res)
            reasons[rid] = changed
        else:
            unchanged.append(res)
    return to_process, unchanged, reasons


def update_state(state: ResourceState, resource: dict[str, Any]) -> None:
    fp = fingerprint(resource)
    state.resources[fp["id"]] = fp


def seed_state(resources: list[dict[str, Any]]) -> ResourceState:
    """Initialize from catalog metadata without processing anything."""
    st = ResourceState.empty()
    for r in resources:
        update_state(st, r)
    return st


def load_state(path: str) -> ResourceState | None:
    """None ⇒ stateless mode (bootstrap: process everything)."""
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        data = json.load(f)
    return ResourceState(resources=dict(data.get("resources", {})))


def save_state(state: ResourceState, path: str) -> None:
    """Atomic write: tmp file in the same directory, then rename."""
    write_json(path, {"resources": state.resources})
