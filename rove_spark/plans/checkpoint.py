"""Per-partition checkpoint manifest: lineage + metrics, resumable runs.

north_rule mandate (no rove counterpart — rove is request-scoped and keeps
no state). Contract:

- work is partitioned by a partition key (default: UTC day of ``ts``);
- each completed partition gets a manifest record carrying **lineage**
  (input fingerprint, code version, params hash) and **metrics** (rows,
  elapsed, extra counters);
- a rerun skips partitions whose (key, fingerprint) already match — so a
  killed job resumes where it stopped, and an *input change* (different
  fingerprint) invalidates exactly the affected partitions;
- writes are idempotent per partition (dynamic partition overwrite), so a
  partition interrupted mid-write is simply rewritten on resume.

The manifest is a JSON file beside the output table (atomic tmp+rename);
on a real cluster this would live in the Iceberg snapshot properties or a
small metadata table — the interface is the contract, not the file.
"""

from __future__ import annotations

import hashlib
import json
import threading
import time
import uuid
from collections.abc import Callable
from pathlib import Path

from rove_spark import __version__


def params_hash(params: dict) -> str:
    return hashlib.sha256(json.dumps(params, sort_keys=True, default=str).encode()).hexdigest()[
        :16
    ]


# serializes every load-modify-store in this process: a job's compaction
# thread marks its days while the job itself may mark its own, and two
# streams sharing increment tables commit to the same table manifests
_update_lock = threading.Lock()


def update_json(path: Path, empty: dict, change: Callable[[dict], None], **dumps) -> None:
    """Apply ``change`` in place to the JSON document at ``path`` (to
    ``empty`` when there is none) and store it by rename from a unique
    temporary name, under one process-wide lock: concurrent updates from
    threads of this process all survive, and no reader sees a torn file.
    Separate processes are not covered. ``dumps`` go to ``json.dumps``."""
    with _update_lock:
        doc = json.loads(path.read_text()) if path.exists() else empty
        change(doc)
        path.parent.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(f".{uuid.uuid4().hex}.tmp")
        tmp.write_text(json.dumps(doc, indent=1, **dumps))
        tmp.replace(path)


class CheckpointManifest:
    def __init__(self, path: str | Path):
        self.path = Path(path)

    def _load(self) -> dict:
        if self.path.exists():
            return json.loads(self.path.read_text())
        return {"version": 1, "partitions": {}}

    def done_partitions(self, fingerprint: str) -> set[str]:
        doc = self._load()
        return {
            k
            for k, v in doc["partitions"].items()
            if v.get("fingerprint") == fingerprint and v.get("status") == "done"
        }

    def mark_done(
        self, keys: list[str], fingerprint: str, lineage: dict, metrics: dict[str, dict]
    ) -> None:
        now = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())

        def mark(doc: dict) -> None:
            for k in keys:
                doc["partitions"][k] = {
                    "status": "done",
                    "fingerprint": fingerprint,
                    "completed_at": now,
                    "lineage": {"code_version": __version__, **lineage},
                    "metrics": metrics.get(k, {}),
                }

        update_json(self.path, {"version": 1, "partitions": {}}, mark, sort_keys=True)

    def records(self) -> dict:
        return self._load()["partitions"]
