"""Collection handle: paths, table IO, create/open/destroy.

Spark-first equivalent of the reference's DiskPersister + collection
directory layout (main/indexes/persisters/disk_persister.py;
main/factories/create_collection_factory.py:22). No pickle: every
index representation is a Parquet table readable by any engine.

:meth:`Collection.write` is the one persister: the create, the merge's
staging, the refits and the fuzzy base builds all write through it, and
:func:`write_layout` is the one place that knows a table's directory
columns. No caller repartitions, sorts or names partition columns.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from documents_vector_search_spark.collection.fuzzy_artifacts import (
    DELETION_INDEX_TABLE,
    N_VARIANT_BUCKETS,
    VOCAB_TABLE,
)
from documents_vector_search_spark.collection.manifest import Manifest
from documents_vector_search_spark.collection.partitioning import (
    TERM_SORTED_TABLES,
    UPDATE_PB_COL,
)
from documents_vector_search_spark.collection.vector_layout import VectorLayout

TABLES = (
    "documents",
    "chunks",
    "embeddings",
    "postings",
    "field_postings",
)

# the fuzzy base tables' query-pruning columns (collection/fuzzy_artifacts.py)
_FUZZY_PARTITION_COLS = {
    VOCAB_TABLE: "term_bucket",
    DELETION_INDEX_TABLE: "variant_bucket",
}


def write_layout(table: str, converter: dict | None) -> tuple[list[str], int]:
    """The directory columns of ``table`` and its writer partition
    count, from the manifest's ``converter`` record: ``_pb`` for the
    document tables, ``VectorLayout.partition_cols`` for embeddings,
    and the term / variant bucket for the fuzzy base tables (which need
    no record). The count is the number of values the last column takes
    (``updateBuckets`` or ``N_VARIANT_BUCKETS``): it equals the
    ``carry_partitions`` of the postings builds (operators/bm25.py), so
    Spark elides the write's repartition behind theirs and the build
    stays one exchange."""
    if table in _FUZZY_PARTITION_COLS:
        return [_FUZZY_PARTITION_COLS[table]], N_VARIANT_BUCKETS
    if table not in TABLES:
        raise ValueError(f"'{table}' is not a collection table")
    n = int(converter["updateBuckets"])
    if table == "embeddings":
        return VectorLayout.from_converter(converter).partition_cols, n
    return [UPDATE_PB_COL], n


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

    def has_table(self, table: str) -> bool:
        """The table is on disk, possibly parked under ``<table>__old``
        by an interrupted swap (:meth:`read` heals that)."""
        return (self.root / table).exists() or (
            self.root / f"{table}__old"
        ).exists()

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
        converter: dict | None = None,
        to: str | Path | None = None,
        no_cluster: bool = False,
    ) -> None:
        """Write ``df`` as ``table`` (overwrite), or stage it at ``to``,
        under the one write rule: hash-repartition by the table's
        directory columns (:func:`write_layout`) so every directory
        gets exactly one writer task and one file, and sort the
        term-keyed tables by ``(cols…, term)`` so a query's ``term IN``
        filter skips row groups. ``no_cluster`` keeps a layout the
        frame already carries: the Z-order file assignment of
        operators/layout.py, several range-clustered files per bucket."""
        cols, n = write_layout(table, converter)
        if not no_cluster:
            df = df.repartition(n, *cols)
        if table in TERM_SORTED_TABLES:
            df = df.sortWithinPartitions(*cols, "term")
        df.write.mode("overwrite").partitionBy(*cols).parquet(
            str(to or self.table_path(table))
        )

    def counts(self) -> dict[str, int]:
        """Live row counts per table (reference E8: faiss.ntotal /
        Chroma count() / SELECT COUNT(*) — SURVEY §2.4). A missing
        table is skipped, so a damaged collection still reports what it
        has."""
        return {t: self.read(t).count() for t in TABLES if self.has_table(t)}

    def manifest(self) -> Manifest:
        return Manifest.load(self.manifest_path)

    def checked_manifest(self) -> Manifest:
        """The manifest of a collection in the current on-disk format.

        The one format check: the searcher (at start and on refresh),
        update, delete, compaction and the refits call it before they
        read or write a table. A collection an older version wrote
        raises ``ValueError`` naming the outdated piece; it has to be
        re-created. Reads only the manifest and directory names."""

        def refuse(piece: str) -> None:
            raise ValueError(
                f"collection '{self.name}' is in an outdated format "
                f"({piece}) — re-create the collection"
            )

        if not self.exists():
            refuse("no manifest.json")
        m = self.manifest()
        if not m.converter.get("updateBuckets"):
            refuse("the manifest records no converter.updateBuckets")
        if (m.converter.get("embedding") or {}).get("dim") is None:
            refuse("the manifest records no converter.embedding.dim")
        if m.avgChunkLength is None and m.numberOfChunks > 0:
            refuse("the manifest records no avgChunkLength")
        if m.fieldStats is None:
            refuse("the manifest records no fieldStats")
        if not self.has_table("field_postings"):
            refuse("no field_postings table")
        for t in TERM_SORTED_TABLES:
            if next((self.root / t).glob("term_bucket=*"), None):
                refuse(f"{t} partitioned by term_bucket")
        if m.converter.get("fuzzy") and next(
            (self.root / "vocab").glob("*.parquet"), None
        ):
            refuse("an unpartitioned fuzzy vocab")
        return m

    def save_manifest(self, manifest: Manifest) -> None:
        self.root.mkdir(parents=True, exist_ok=True)
        manifest.touch()
        manifest.save(self.manifest_path)
