"""Collection handle: paths, table IO, create/open/destroy.

Spark-first equivalent of the reference's DiskPersister + collection
directory layout (main/indexes/persisters/disk_persister.py;
main/factories/create_collection_factory.py:22). No pickle: every
index representation is a Parquet table readable by any engine.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from documents_vector_search_spark.collection.manifest import Manifest

TABLES = (
    "documents",
    "chunks",
    "embeddings",
    "postings",
    "doc_stats",
    "field_postings",
)


def rollback_partial_swap(root: Path, table: str) -> None:
    """Undo an interrupted PARTITION-scoped update swap (see
    updater._swap_partitions): ``<table>__old/_PARTIAL.json`` lists the
    affected ``_pb`` buckets. Once parking finished, any live directory
    for those buckets may be half-swapped, so remove them and restore
    the parked originals; while the marker still says ``parking``, the
    live directories are untouched originals and only the parked ones
    move back. Pre-update state is fully recovered; re-running the
    (idempotent) update batch then converges. No-op without the
    marker."""
    from documents_vector_search_spark.collection.partitioning import (
        UPDATE_PB_COL,
        pb_dirs,
    )

    old = root / f"{table}__old"
    marker = old / "_PARTIAL.json"
    if not marker.exists():
        return
    final = root / table
    state = json.loads(marker.read_text())
    pbs = set(state["pbs"])
    # the column the swap parked on: _pb for the document tables,
    # term_bucket/variant_bucket for the fuzzy artifacts
    col = state.get("col", UPDATE_PB_COL)
    if final.exists() and not state.get("parking"):
        for d in pb_dirs(final, pbs, col):
            shutil.rmtree(d)
    for d in sorted(
        (p for p in old.rglob(f"{col}=*") if p.is_dir()),
    ):
        dest = final / d.relative_to(old)
        dest.parent.mkdir(parents=True, exist_ok=True)
        d.rename(dest)
    shutil.rmtree(old)
    tmp = root / f"{table}__tmp"
    if tmp.exists():
        shutil.rmtree(tmp)

# canonical document envelope (SURVEY §1.1): the shape every source
# converter emits, mirroring {id, url, metadata, text, chunks} of e.g.
# reference main/sources/jira/jira_document_converter.py:15-31 (chunks
# become the exploded `chunks` table instead of a nested array).
DOCUMENT_SCHEMA = (
    "id STRING, url STRING, metadata MAP<STRING,STRING>, text STRING, "
    "last_modified_at TIMESTAMP, source_type STRING"
)


class Collection:
    def __init__(self, spark: SparkSession, base_path: str, name: str):
        self.spark = spark
        self.name = name
        self.root = Path(base_path) / name

    # -- paths ------------------------------------------------------------
    def table_path(self, table: str) -> str:
        return str(self.root / table)

    @property
    def manifest_path(self) -> Path:
        return self.root / "manifest.json"

    # -- lifecycle ----------------------------------------------------------
    def exists(self) -> bool:
        return self.manifest_path.exists()

    def destroy(self) -> None:
        """Wipe the collection dir (reference recreates on create,
        documents_collection_creator.py:49-50)."""
        if self.root.exists():
            shutil.rmtree(self.root)

    # -- IO -----------------------------------------------------------------
    def read(self, table: str) -> DataFrame:
        """Read a table, recovering from an interrupted update swap.

        The updater's directory swaps are rename-based and not
        crash-atomic. Two crash shapes are healed here so readers always
        see a complete committed state: a partition-scoped swap left
        half-done (``__old/_PARTIAL.json`` marker → roll the affected
        partitions back, updater._swap_partitions) and a whole-table
        refit swap that failed between ``final -> __old`` and
        ``__tmp -> final`` (restore the parked dir, updater._swap_all).
        Single-writer, no-concurrent-reader-during-update assumption
        (see updater).
        """
        rollback_partial_swap(self.root, table)
        final = self.root / table
        old = self.root / f"{table}__old"
        if not final.exists() and old.exists():
            old.rename(final)
        return self.spark.read.parquet(self.table_path(table))

    def write(
        self,
        table: str,
        df: DataFrame,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> None:
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.table_path(table))

    def counts(self) -> dict[str, int]:
        """Live row counts per table (reference E8: faiss.ntotal /
        Chroma count() / SELECT COUNT(*) — SURVEY §2.4). Tables a given
        collection doesn't materialize (e.g. field_postings on
        pre-existing collections) are skipped."""
        return {
            t: self.read(t).count()
            for t in TABLES
            if (self.root / t).exists() or (self.root / f"{t}__old").exists()
        }

    def manifest(self) -> Manifest:
        return Manifest.load(self.manifest_path)

    def save_manifest(self, manifest: Manifest) -> None:
        self.root.mkdir(parents=True, exist_ok=True)
        manifest.touch()
        manifest.save(self.manifest_path)
