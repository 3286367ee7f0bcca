"""Spark event-log reader: per-request sums of the work Spark did.

Every request runs under its own job tag (``SparkContext.addJobTag``);
a job's tags are in its ``spark.job.tags`` property, and every stage
and task of the job inherits them.  A job without a matching tag and
every cached-block update are charged to the request whose job started
last: the closed loop runs one request at a time.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

# SQL metrics of the Python exec nodes, by their display names.
PY_RUN_MS = "time to run Python workers"
PY_BYTES_IN = "data sent to Python workers"

FIELDS = ("shuffle_write_bytes", "shuffle_write_records", "fetch_wait_s",
          "spill_bytes", "stages", "tasks", "python_run_s",
          "python_bytes_in", "run_s", "cpu_s", "gc_s", "result_bytes",
          "block_bytes")


def log_files(log_dir: str, app_id: str) -> list[str]:
    """The (single, uncompressed) event file of one application."""
    path = os.path.join(log_dir, app_id)
    return [path] if os.path.exists(path) else []


def read_events(paths: list[str]):
    for p in paths:
        with open(p) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def per_tag(events, prefix: str) -> dict[str, dict[str, float]]:
    """Sum task, stage and cache work per job tag starting ``prefix``."""
    stage_tag: dict[int, str] = {}
    current: str | None = None
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(FIELDS, 0.0))
    block_peak: dict[tuple[str, str], int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            tags = (e.get("Properties") or {}).get("spark.job.tags", "")
            tag = next((t for t in tags.split(",") if t.startswith(prefix)),
                       current)
            current = tag
            if tag is not None:
                for sid in e.get("Stage IDs", []):
                    stage_tag[sid] = tag
        elif kind == "SparkListenerStageCompleted":
            tag = stage_tag.get(e["Stage Info"]["Stage ID"])
            if tag is not None:
                out[tag]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            tag = stage_tag.get(e.get("Stage ID"))
            if tag is None:
                continue
            _add_task(out[tag], e)
        elif kind == "SparkListenerBlockUpdated" and current is not None:
            info = e["Block Updated Info"]
            if info["Block ID"].startswith("rdd_"):
                key = (current, info["Block ID"])
                size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
                block_peak[key] = max(block_peak.get(key, 0), size)
    for (tag, _), size in block_peak.items():
        out[tag]["block_bytes"] += size
    return dict(out)


def _add_task(acc: dict[str, float], e: dict) -> None:
    m = e.get("Task Metrics") or {}
    acc["tasks"] += 1
    acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
    acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    acc["result_bytes"] += m.get("Result Size", 0)
    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    acc["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    acc["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    for a in (e.get("Task Info") or {}).get("Accumulables", []):
        name = a.get("Name")
        if name == PY_RUN_MS:
            acc["python_run_s"] += float(a.get("Update", 0)) / 1e3
        elif name == PY_BYTES_IN:
            acc["python_bytes_in"] += float(a.get("Update", 0))


def total(tags: dict[str, dict[str, float]]) -> dict[str, float]:
    out = dict.fromkeys(FIELDS, 0.0)
    for acc in tags.values():
        for k, v in acc.items():
            out[k] += v
    return out
