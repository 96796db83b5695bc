"""Collection manifest: the JSON metadata the reference writes beside
its indexes (main/core/documents_collection_creator.py:255-279).

Field names keep the reference's camelCase so a user migrating from it
can read their manifests unchanged. ``lastModifiedDocumentTime`` is the
incremental-update watermark (SURVEY §2.6 U1)."""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone
from pathlib import Path


@dataclass
class Manifest:
    collectionName: str
    updatedTime: str = ""
    lastModifiedDocumentTime: str | None = None
    numberOfDocuments: int = 0
    numberOfChunks: int = 0
    # mean token count per chunk (BM25 avgdl): persisted at build time
    # so a serving process never pays a corpus-stats job per searcher.
    # None only at zero chunks; Collection.checked_manifest refuses a
    # manifest without it that has chunks.
    avgChunkLength: float | None = None
    # per-field document-length stats for BM25F serving:
    # {field: {"docs": n docs where the field is non-empty,
    #          "sumFl": their total field token length}} — avgfl =
    # sumFl/docs with zero corpus-stats jobs per searcher. Every create
    # writes it; Collection.checked_manifest refuses a manifest
    # without it.
    fieldStats: dict | None = None
    lastIndexItemId: int = -1
    # set (``{"op": "update"|"delete"}``) by the updater's save just
    # before its first table swap and cleared by its final save: a
    # writer that finds it knows a batch died in between and recounts
    # the table-derived stats above from the tables (collection/
    # updater.py)
    inFlight: dict | None = None
    reader: dict = field(default_factory=dict)
    converter: dict = field(
        default_factory=lambda: {"splitter": {"chunkSize": 1000, "chunkOverlap": 100}}
    )
    indexers: list = field(default_factory=lambda: [{"name": "vector"}, {"name": "bm25"}])

    def touch(self) -> None:
        self.updatedTime = datetime.now(timezone.utc).isoformat()

    def save(self, path: str | Path) -> None:
        Path(path).write_text(json.dumps(asdict(self), indent=2))

    @classmethod
    def load(cls, path: str | Path) -> "Manifest":
        data = json.loads(Path(path).read_text())
        known = {k: v for k, v in data.items() if k in cls.__dataclass_fields__}
        return cls(**known)
