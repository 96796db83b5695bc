"""Bucket-scoped compaction: heal small-file fragmentation from updates.

Every incremental update rewrites its affected ``_pb`` bucket
directories with batch-sized jobs, so a long-lived collection
accumulates one-file-per-update fragments in its hot buckets. Small
files tax every subsequent scan (footer reads, task scheduling) — the
classic long-running-table problem that Delta/Iceberg solve with
OPTIMIZE. This is the same operation for this engine's plain-Parquet
layout, scoped by the update-bucket design (collection/partitioning.py):

- DETECT: one tree walk per table counts data files per ``_pb=X``
  directory; a bucket is fragmented when any of its directories holds
  more than ``max_files_per_dir`` files.
- REWRITE: read ONLY the fragmented buckets (Parquet partition
  pruning), repartition by the table's partition columns so each live
  directory gets exactly one writer task, and stage + swap those
  directories with the updater's two-phase ``_PARTIAL.json``-marked
  machinery — crash-recoverable, untouched buckets never rewritten.

Cost: O(fragmented buckets), not O(corpus) — at production bucket
counts a nightly compact touches only the buckets that day's updates
touched. The reference has no analog (its indexes are single files
rebuilt wholesale).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from documents_vector_search_spark.collection.catalog import TABLES, Collection
from documents_vector_search_spark.collection.manifest import Manifest
from documents_vector_search_spark.collection.partitioning import UPDATE_PB_COL
from documents_vector_search_spark.collection.vector_layout import VectorLayout


def bucket_file_counts(table_root: Path) -> dict[int, dict[str, int]]:
    """``pb -> {"files": total, "max_per_dir": worst directory}`` in one
    tree walk (a bucket may span several sibling layout directories)."""
    prefix = f"{UPDATE_PB_COL}="
    out: dict[int, dict[str, int]] = {}
    for d in table_root.rglob(f"{prefix}*"):
        if not d.is_dir():
            continue
        try:
            pb = int(d.name[len(prefix):])
        except ValueError:
            continue
        n = sum(1 for f in d.glob("*.parquet") if f.is_file())
        agg = out.setdefault(pb, {"files": 0, "max_per_dir": 0})
        agg["files"] += n
        agg["max_per_dir"] = max(agg["max_per_dir"], n)
    return out


def _zorder_config(manifest: Manifest, table: str) -> dict | None:
    """The manifest's recorded Z-order layout for ``table`` (create's
    ``zorder_by``), or None."""
    cfg = manifest.converter.get("zorder")
    if cfg and cfg.get("table") == table and len(cfg.get("cols", [])) == 2:
        return cfg
    return None


def _clear_degraded(collection: Collection, zcfg: dict | None) -> None:
    """Drop the manifest's Z-order ``degraded_pbs`` record once no
    listed bucket still needs re-clustering, and persist."""
    if not zcfg or not zcfg.get("degraded_pbs"):
        return
    manifest = collection.manifest()
    manifest.converter["zorder"].pop("degraded_pbs", None)
    collection.save_manifest(manifest)


def compact_collection(
    collection: Collection,
    tables: list[str] | None = None,
    max_files_per_dir: int = 1,
    output_files_per_dir: int = 1,
) -> dict[str, dict]:
    """Compact fragmented update buckets down to ``output_files_per_dir``
    files per partition directory. Returns a per-table report
    ``{table: {"buckets": [...], "files_before": n, "files_after": m}}``
    (tables with nothing to do are omitted).

    ``output_files_per_dir`` > 1 spreads each rewritten directory over
    that many writer tasks (a salt of the row id joins the repartition
    key) — at production bucket sizes (~100 GB) a single-writer rewrite
    per directory would serialize; pick size/⟨file target⟩. The
    fragmentation threshold ``max_files_per_dir`` should exceed it."""
    from documents_vector_search_spark.collection.updater import (
        _recover_orphans,
        _swap_partitions,
    )

    tables = list(tables or TABLES)
    manifest = collection.checked_manifest()
    emb_cols = VectorLayout.from_converter(manifest.converter).partition_cols
    _recover_orphans(collection, tables)
    report: dict[str, dict] = {}
    for table in tables:
        root = Path(collection.table_path(table))
        if not root.exists():
            continue
        counts = bucket_file_counts(root)
        zcfg = _zorder_config(manifest, table)
        # Z-order tables: updates pre-cluster their rewritten buckets
        # like every other table (one file per directory — optimal
        # between compactions), so file counts cannot signal their
        # DEGRADED CLUSTERING; the updater records the rewritten
        # buckets in the manifest instead (updater.
        # _record_zorder_degraded) and compaction re-clusters exactly
        # those, clearing the record below.
        degraded = (
            [pb for pb in zcfg.get("degraded_pbs", []) if pb in counts]
            if zcfg
            else []
        )
        frag = sorted(
            {
                pb
                for pb, c in counts.items()
                if c["max_per_dir"] > max_files_per_dir
            }
            | set(degraded)
        )
        if not frag:
            # any degraded entry left names a bucket gone from disk
            _clear_degraded(collection, zcfg)
            continue
        df = collection.read(table).filter(F.col(UPDATE_PB_COL).isin(frag))
        pcols = emb_cols if table == "embeddings" else [UPDATE_PB_COL]
        if zcfg:
            # the manifest records a Z-order layout for this table:
            # re-cluster the fragmented buckets instead of a plain
            # coalesce, restoring the create-time file-skipping boxes
            # updates degraded (the ingest-then-OPTIMIZE lifecycle)
            from documents_vector_search_spark.operators.layout import (
                zorder_within_partitions,
            )

            rewritten = zorder_within_partitions(
                df,
                UPDATE_PB_COL,
                zcfg["cols"][0],
                zcfg["cols"][1],
                num_files=max(
                    len(frag) * output_files_per_dir, output_files_per_dir
                ),
                bits=int(zcfg.get("bits", 16)),
            )
        else:
            # repartition BY the partition columns (+ an id salt when
            # more writers per dir are requested): all rows of one
            # (dir, salt) land in one task -> exactly
            # output_files_per_dir files per dir
            keys = [F.col(c) for c in pcols]
            if output_files_per_dir > 1:
                first_data = next(
                    c for c in df.columns if c not in pcols
                )
                keys.append(
                    F.pmod(
                        F.crc32(F.col(first_data).cast("string")),
                        F.lit(output_files_per_dir),
                    )
                )
            rewritten = df.repartition(*keys)
        _swap_partitions(
            collection,
            {table: rewritten},
            partition_cols={table: pcols},
            affected_pbs={table: frag},
            # `rewritten` already carries its deliberate layout (the
            # Z-order file assignment or the salted per-dir split) —
            # the swap's default pre-clustering repartition would
            # destroy it
            no_cluster=frozenset({table}),
        )
        # clustering restored for every degraded bucket still on disk
        # (frag covers them all); the rest are gone
        _clear_degraded(collection, zcfg)
        after = bucket_file_counts(Path(collection.table_path(table)))
        report[table] = {
            "buckets": frag,
            "files_before": sum(counts[pb]["files"] for pb in frag),
            "files_after": sum(
                after.get(pb, {"files": 0})["files"] for pb in frag
            ),
        }
    return report
