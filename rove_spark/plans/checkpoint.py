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
from pathlib import Path

from rove_spark import __version__


def params_hash(params: dict) -> str:
    return hashlib.sha256(json.dumps(params, sort_keys=True, default=str).encode()).hexdigest()[
        :16
    ]


# serializes every load-modify-store in this process: a job's compaction
# thread marks its days while the job itself may mark its own
_update_lock = threading.Lock()


class CheckpointManifest:
    def __init__(self, path: str | Path):
        self.path = Path(path)

    def _load(self) -> dict:
        if self.path.exists():
            return json.loads(self.path.read_text())
        return {"version": 1, "partitions": {}}

    def _store(self, doc: dict) -> None:
        self.path.parent.mkdir(parents=True, exist_ok=True)
        tmp = self.path.with_suffix(f".{uuid.uuid4().hex}.tmp")
        tmp.write_text(json.dumps(doc, indent=1, sort_keys=True))
        tmp.replace(self.path)

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
        with _update_lock:
            doc = self._load()
            for k in keys:
                doc["partitions"][k] = {
                    "status": "done",
                    "fingerprint": fingerprint,
                    "completed_at": now,
                    "lineage": {"code_version": __version__, **lineage},
                    "metrics": metrics.get(k, {}),
                }
            self._store(doc)

    def records(self) -> dict:
        return self._load()["partitions"]
