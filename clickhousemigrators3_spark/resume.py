"""Checkpoint / resume ledger — C3/C4 parity (reference ``services/resume.py``).

Same JSON shape: ``{db: {table: {"completed_partitions": [...],
"status": ...}}}``; partition values are serialized as their string form
(composite keys joined with '|'). Write-then-commit ordering: the ledger is
written via temp-file + atomic rename so a crash never truncates it.

Semantic upgrade (Q4 fix documented in SURVEY §7.4): because the copy step
uses idempotent dynamic-partition *overwrite*, replaying a partition whose
checkpoint was lost is safe — no duplicate rows, unlike the reference's
append-INSERT.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading

# One ledger file per run, possibly updated from several table-migration
# threads (C8 parallel dispatch): serialize mutation+flush so a JSON dump
# never races a concurrent dict mutation. Atomic rename already makes each
# individual write crash-safe.
_LEDGER_LOCK = threading.Lock()


def serialize_partition(values: tuple | list) -> str:
    return "|".join("" if v is None else str(v) for v in values)


def load_progress(path: str) -> dict:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def _write_json_atomic(path: str, obj, indent: int | None = None) -> None:
    """Replace ``path`` with ``obj`` as JSON in one step: write a unique
    temp file in the same directory, then ``os.replace`` it (atomic on
    POSIX), so a crash leaves the old file or the new one, never a part."""
    d = os.path.dirname(os.path.abspath(path))
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, prefix=f".{os.path.basename(path)}.")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f, indent=indent)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def save_progress(path: str, progress: dict) -> None:
    _write_json_atomic(path, progress, indent=2)


def init_table(progress: dict, db: str, table: str) -> dict:
    progress.setdefault(db, {}).setdefault(
        table, {"completed_partitions": [], "status": "in_progress"}
    )
    return progress


def completed_partitions(progress: dict, db: str, table: str) -> list[str]:
    return progress.get(db, {}).get(table, {}).get("completed_partitions", [])


def is_table_completed(progress: dict, db: str, table: str) -> bool:
    return progress.get(db, {}).get(table, {}).get("status") == "completed"


def mark_partition(
    progress: dict, db: str, table: str, parts: list[str], path: str
) -> None:
    """Checkpoint one completed write unit's partitions with one flush
    (C3: ``resume.py:52-57``)."""
    with _LEDGER_LOCK:
        done = init_table(progress, db, table)[db][table]["completed_partitions"]
        seen = set(done)
        done.extend(p for p in parts if p not in seen)
        save_progress(path, progress)


def mark_table_completed(progress: dict, db: str, table: str, path: str) -> None:
    with _LEDGER_LOCK:
        init_table(progress, db, table)[db][table]["status"] = "completed"
        save_progress(path, progress)


def remaining(all_parts: list[str], done: list[str]) -> list[str]:
    """A6 in driver-side form (``resume.py:38``) — order-preserving."""
    done_set = set(done)
    return [p for p in all_parts if p not in done_set]
