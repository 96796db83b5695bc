"""Bucket-scoped compaction: restore the write rule's layout where a
bucket lost it.

Every writer of this version lands ONE file per partition directory
(catalog.Collection.write), so a collection it created and updated has
nothing to compact. Compaction is for the two layouts that still
differ from the rule:

- a collection an older version wrote, whose create or merges left
  several files in a directory: a bucket is fragmented when any of its
  directories holds more than ``max_files_per_dir`` files (one tree
  walk per table);
- a Z-ordered table (create's ``zorder_by``), whose buckets hold
  several range-clustered files by design: an update or delete
  rewrites a bucket as one unclustered file and records it in the
  manifest's ``degraded_pbs`` (updater._record_zorder_degraded).
  Exactly those buckets are re-clustered, at the record's files per
  bucket; file counts say nothing about a range layout.

The rewrite reads ONLY the chosen buckets (Parquet partition pruning)
and stages + swaps those directories with the updater's two-phase
``_PARTIAL.json``-marked machinery — crash-recoverable, untouched
buckets never rewritten. Cost: O(chosen buckets), not O(corpus). The
reference has no analog (its indexes are single files rebuilt
wholesale).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from documents_vector_search_spark.collection.catalog import TABLES, Collection
from documents_vector_search_spark.collection.manifest import Manifest
from documents_vector_search_spark.collection.partitioning import UPDATE_PB_COL


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
) -> dict[str, dict]:
    """Rewrite fragmented buckets to the write rule's one file per
    partition directory, and re-cluster a Z-ordered table's degraded
    buckets. Returns a per-table report ``{table: {"buckets": [...],
    "files_before": n, "files_after": m}}`` (tables with nothing to do
    are omitted)."""
    from documents_vector_search_spark.collection.updater import (
        _recover_orphans,
        _swap_partitions,
    )

    tables = list(tables or TABLES)
    manifest = collection.checked_manifest()
    _recover_orphans(collection, tables)
    report: dict[str, dict] = {}
    for table in tables:
        root = Path(collection.table_path(table))
        if not root.exists():
            continue
        counts = bucket_file_counts(root)
        zcfg = _zorder_config(manifest, table)
        if zcfg:
            # a range layout holds several files per bucket by design:
            # only the buckets the merge recorded need re-clustering
            frag = sorted(
                pb for pb in zcfg.get("degraded_pbs", []) if pb in counts
            )
        else:
            frag = sorted(
                pb
                for pb, c in counts.items()
                if c["max_per_dir"] > max_files_per_dir
            )
        if not frag:
            # any degraded entry left names a bucket gone from disk
            _clear_degraded(collection, zcfg)
            continue
        df = collection.read(table).filter(F.col(UPDATE_PB_COL).isin(frag))
        if zcfg:
            # the create's Z-order file assignment, bucket by bucket
            from documents_vector_search_spark.operators.layout import (
                zorder_within_partitions,
            )

            per_bucket = max(
                1,
                int(zcfg["files"]) // int(manifest.converter["updateBuckets"]),
            )
            df = zorder_within_partitions(
                df,
                UPDATE_PB_COL,
                zcfg["cols"][0],
                zcfg["cols"][1],
                num_files=len(frag) * per_bucket,
                bits=int(zcfg.get("bits", 16)),
            )
        _swap_partitions(
            collection,
            {table: df},
            {table: frag},
            manifest.converter,
            no_cluster=frozenset({table} if zcfg else ()),
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
