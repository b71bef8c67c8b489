"""Checkpoint / lineage store (FIXTURES.md F6).

One JSON manifest per committed micro-batch. The manifests are lineage
only: the resume offset comes from the table's own ledger of committed
batch ids (CdcPipeline.resume_lsn), never from this store. Manifests
carry applied counts per manifest key (a bucket, or a MOR delta's
bucket range) + offsets -- the Spark analogue of Silk's
ExecutionReport (/root/reference/silk-core/src/main/scala/org/
silkframework/execution/ExecutionReport.scala).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import asdict, dataclass, field


@dataclass
class BatchManifest:
    batch_id: str
    start_lsn: int
    end_lsn: int
    rows_applied: int = 0
    rows_deleted: int = 0
    conflicts: int = 0
    partition_stats: dict = field(default_factory=dict)
    snapshot_id: int | None = None
    schema_id: int | None = None
    committed_at_lsn: int | None = None  # deterministic stand-in for wall clock


class CheckpointStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def write(self, manifest: BatchManifest) -> None:
        d = asdict(manifest)
        path = os.path.join(self.root, f"batch-{manifest.batch_id}.json")
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(d, f)
        os.replace(tmp, path)

    def manifest(self, batch_id: str) -> dict | None:
        try:
            with open(os.path.join(self.root, f"batch-{batch_id}.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def all_manifests(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.root)):
            if name.startswith("batch-") and name.endswith(".json"):
                with open(os.path.join(self.root, name)) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda m: m["end_lsn"])
