"""Incremental update and delete: one staged MERGE over Parquet tables.

Spark-first re-expression of the reference's update path
(main/core/documents_collection_creator.py:73-98,125-136,204-221):
for each re-read document, delete its old chunks from every index,
then re-add with fresh ids continuing the global counter
(lastIndexItemId, line 129). Delete-then-reinsert also makes the
watermark's 5-minute overlap window idempotent (SURVEY §7.4): a doc
re-sent unchanged is simply replaced by identical content. A delete is
the same merge with an empty fresh leg: :func:`update_collection` and
:func:`delete_documents` are thin wrappers over :func:`_merge`.

Every table is partitioned by a stable ``_pb`` bucket of its OWNING
DOCUMENT's id (collection/partitioning.py) — one shared affected set,
at most batch-doc-count buckets. The merge reads ONLY those partitions
(Parquet partition pruning), drops the batch documents' rows, unions
the fresh rows, writes the result to a ``__tmp`` staging dir, and
swaps just those partition directories. Cost: O(batch + batch_docs ×
corpus/update_buckets), not O(corpus). Manifest stats update
incrementally from one fused statistics job. A collection in an older
on-disk format is refused before any directory changes
(``Collection.checked_manifest``).

The swap is not crash-ATOMIC (single-writer; a Delta/Iceberg MERGE is
the transactional upgrade on a real deployment), but it is crash
RECOVERABLE and a re-run CONVERGES:

* the swap parks displaced directories in ``<table>__old`` under a
  ``_PARTIAL.json`` marker listing the affected buckets, and recovery
  (writer start or Collection.read) rolls a half-swapped table back;
* tables commit derived-first (embeddings, postings, field_postings),
  then chunks, documents last, and the merge drops the fresh chunk ids
  as well as the stored ones, so re-running an interrupted batch from
  any committed prefix yields the tables of an uninterrupted run;
* before the first swap the manifest is saved with an ``inFlight``
  record, cleared by the final save. A writer that finds the record
  recounts the manifest from the tables (:func:`_exact_recount`) and
  rebuilds the fuzzy artifacts from postings before its own batch, so
  the incremental arithmetic never applies to counts or a vocabulary
  a crashed batch left half-updated.

Each swap also invalidates Spark's cached data for the swapped table:
``Collection.read`` re-reads the same Parquet path, so a serving
searcher's ``persist()``ed frame would otherwise feed the NEXT merge
its pre-swap rows and silently undo the previous batch.
"""

from __future__ import annotations

import json
import shutil
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime
from functools import reduce
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from documents_vector_search_spark.collection.catalog import (
    TABLES,
    Collection,
    rollback_partial_swap,
    write_layout,
)
from documents_vector_search_spark.collection.creator import (
    Embedder,
    _hash_chunk_ids,
    build_chunks,
    chunk_stats,
    default_embedder,
)
from documents_vector_search_spark.collection.manifest import Manifest
from documents_vector_search_spark.collection.partitioning import (
    UPDATE_PB_COL,
    pb_col,
    pb_dirs,
)
from documents_vector_search_spark.collection.vector_layout import VectorLayout
from documents_vector_search_spark.functions.text import tokenize
from documents_vector_search_spark.operators.bm25 import (
    build_field_postings,
    build_postings,
)
from documents_vector_search_spark.operators.chunking import assign_chunk_ids

# fuzzy artifacts recover through the same orphan sweep as the tables:
# an interrupted vocab/deletion_index staged swap rolls back to the
# parked ``__old`` (see _apply_fuzzy_delta)
_FUZZY_TABLES = (
    "vocab",
    "deletion_index",
    "vocab_deltas",
    "deletion_index_deltas",
)


def _recover_orphans(collection: Collection, tables: list[str]) -> None:
    """Clean up leftovers of an interrupted previous write: roll back a
    partial partition swap (``_PARTIAL.json`` marker), restore a parked
    whole-table ``__old`` when the final directory is missing (refit
    swap crash, :func:`_swap_all`), then drop orphaned ``__tmp``/
    ``__old`` dirs."""
    for table in tables:
        rollback_partial_swap(collection.root, table)
        final = Path(collection.table_path(table))
        old = final.with_name(f"{table}__old")
        tmp = final.with_name(f"{table}__tmp")
        if not final.exists() and old.exists():
            old.rename(final)
        for orphan in (tmp, old):
            if orphan.exists():
                shutil.rmtree(orphan)


def _record_zorder_degraded(manifest: Manifest, pbs: list[int]) -> None:
    """Record the update/delete-rewritten ``_pb`` buckets of the
    manifest's Z-order table as CLUSTERING-DEGRADED. The merge persists
    the manifest with this record BEFORE the swap: over-recording after
    a crash costs one redundant re-cluster; under-recording would leave
    a degraded bucket invisible to OPTIMIZE forever.

    The merge stages the Z-order table through the same write rule as
    every other table (``Collection.write``: ONE file per rewritten
    directory), so a rewritten bucket keeps its rows but loses its
    Z-order file boxes, and no file count shows it. compact_collection
    re-clusters exactly the buckets this list names, at the record's
    files per bucket, and clears them."""
    zcfg = manifest.converter.get("zorder") or {}
    if not zcfg.get("table"):
        return
    zcfg["degraded_pbs"] = sorted(
        set(zcfg.get("degraded_pbs") or []) | {int(pb) for pb in pbs}
    )
    manifest.converter["zorder"] = zcfg


def _refresh_cached(collection: Collection, table: str) -> None:
    """Invalidate Spark's cached data for a just-swapped table: any
    ``persist()``ed frame over its path (a serving searcher's) holds
    pre-swap rows, and the CacheManager would substitute it into every
    later read of the same path — including the next merge's."""
    collection.spark.catalog.refreshByPath(collection.table_path(table))


def _swap_all(
    collection: Collection,
    merged: dict[str, DataFrame],
    converter: dict | None = None,
) -> None:
    """Two-phase WHOLE-table rewrite for the refits (refit.py): FIRST
    materialize every table to a __tmp dir (all plans still read the
    intact originals — swapping any table earlier would make later
    lazy plans read post-swap data), THEN swap all directories. A
    collection table stages through ``Collection.write`` under the
    ``converter`` record; the topic tables are not collection tables
    and keep a plain write."""
    for table, df in merged.items():
        tmp = collection.table_path(f"{table}__tmp")
        if table in TABLES:
            collection.write(table, df, converter, to=tmp)
        else:
            df.write.mode("overwrite").parquet(tmp)
    for table in merged:
        tmp = Path(collection.table_path(f"{table}__tmp"))
        final = Path(collection.table_path(table))
        old = final.with_name(f"{table}__old")
        if final.exists():
            final.rename(old)
        tmp.rename(final)
        if old.exists():
            shutil.rmtree(old)
        _refresh_cached(collection, table)


def _stage_schema_file(
    rows: DataFrame, live: Path, tmp: Path, wanted: set[int]
) -> None:
    """Stage one empty file (``rows`` without its partition columns)
    in the first affected directory when the merge leaves the table no
    rows in any bucket: with no data file Spark cannot infer the
    table's schema, and the next update or search of the emptied
    collection would fail."""
    prefix = f"{UPDATE_PB_COL}="
    first = None
    for f in live.rglob("*.parquet"):
        d = next(p for p in f.parents if p.name.startswith(prefix))
        if int(d.name[len(prefix):]) not in wanted:
            return  # another bucket keeps rows, and the schema
        first = first or d
    if first is not None:
        rows.limit(0).write.mode("overwrite").parquet(
            str(tmp / first.relative_to(live))
        )


def _swap_partitions(
    collection: Collection,
    merged: dict[str, DataFrame],
    affected_pbs: dict[str, list[int]],
    converter: dict,
    no_cluster: frozenset[str] = frozenset(),
) -> None:
    """Two-phase PARTITION-scoped swap. Phase A stages every merged
    table (affected partitions only) under ``<table>__tmp`` through
    ``Collection.write`` — the create's layout from the manifest's
    ``converter`` record, one file per directory (``no_cluster`` keeps
    a Z-order re-cluster's own files) — while all plans still read the
    intact originals. Phase B, per table in dict order: park the live
    ``_pb=X`` directories in ``<table>__old`` (with a marker listing
    the X values, for rollback), then move the staged directories in.
    Phase C removes the parking dirs — the commit point — in the same
    order, and invalidates each table's cached data.

    An affected bucket whose rows were ALL deleted has no staged dir;
    parking alone removes it, which is exactly the merge semantics.
    """
    # phase A: stage everything before touching any live directory.
    # The table writes are independent batch-sized jobs — run them as
    # concurrent driver-thread actions (same fan-out pattern as the
    # creator) so job-scheduling overhead overlaps instead of summing.
    def _stage(item) -> None:
        table, df = item
        tmp = Path(collection.table_path(f"{table}__tmp"))
        collection.write(
            table, df, converter, to=tmp, no_cluster=table in no_cluster
        )
        if not any(tmp.rglob("*.parquet")):
            cols, _ = write_layout(table, converter)
            _stage_schema_file(
                df.drop(*cols), Path(collection.table_path(table)), tmp,
                set(affected_pbs[table]),
            )

    with ThreadPoolExecutor(max_workers=len(merged)) as pool:
        list(pool.map(_stage, merged.items()))

    # phase B: park displaced partitions, move staged ones in
    for table in merged:
        live = Path(collection.table_path(table))
        tmp = Path(collection.table_path(f"{table}__tmp"))
        old = live.with_name(f"{table}__old")
        old.mkdir(parents=True, exist_ok=True)
        marker = {"pbs": affected_pbs[table], "col": UPDATE_PB_COL}
        # "parking" tells rollback that the live dirs are still
        # originals (catalog.rollback_partial_swap)
        (old / "_PARTIAL.json").write_text(
            json.dumps({**marker, "parking": True})
        )
        # one tree walk per root (not per bucket): at production bucket
        # counts a per-bucket rglob would rescan the whole layout tree
        # O(buckets) times
        wanted = set(affected_pbs[table])

        def move_dirs(src_root: Path, dst_root: Path) -> None:
            for d in pb_dirs(src_root, wanted):
                dest = dst_root / d.relative_to(src_root)
                dest.parent.mkdir(parents=True, exist_ok=True)
                d.rename(dest)

        move_dirs(live, old)
        (old / "_PARTIAL.json").write_text(json.dumps(marker))
        move_dirs(tmp, live)

    # phase C: commit — drop parked state and staging dirs
    for table in merged:
        for suffix in ("__old", "__tmp"):
            p = Path(collection.table_path(f"{table}{suffix}"))
            if p.exists():
                shutil.rmtree(p)
        _refresh_cached(collection, table)


def _materialize_fuzzy_delta(
    collection: Collection,
    manifest: Manifest,
    fresh_postings: DataFrame,
    stale_postings: DataFrame,
) -> str | None:
    """Pre-swap phase of fuzzy-artifact maintenance: aggregate the
    vocabulary delta from the changed postings rows only and WRITE it
    (post-swap lazy reads of the postings path would see merged data).
    Returns the delta path, or None when the collection carries no
    fuzzy artifacts. A crash between the main swap and the publish
    leaves the ``inFlight`` record, and the next writer rebuilds the
    artifacts from postings (:func:`_exact_recount`)."""
    from documents_vector_search_spark.collection.fuzzy_artifacts import (
        vocab_delta,
    )

    if not manifest.converter.get("fuzzy"):
        return None
    path = str(Path(collection.table_path("vocab_delta__tmp")))
    vocab_delta(fresh_postings, stale_postings).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def _stage_fuzzy_delta(
    collection: Collection, manifest: Manifest, delta_path: str | None
) -> dict | None:
    """Staging half of the fuzzy append (fuzzy_artifacts.
    stage_vocab_delta): touches only ``__tmp`` dirs, so the merge runs
    it CONCURRENTLY with the partition swap."""
    if delta_path is None:
        return None
    from documents_vector_search_spark.collection.fuzzy_artifacts import (
        DEFAULT_MAX_EDITS,
        stage_vocab_delta,
    )

    cfg = manifest.converter["fuzzy"]
    return stage_vocab_delta(
        collection,
        delta_path,
        max_edits=int(cfg.get("maxEdits", DEFAULT_MAX_EDITS)),
    )


def _apply_fuzzy_delta(
    collection: Collection,
    manifest: Manifest,
    delta_path: str | None,
    staged: dict | None,
) -> None:
    """Post-swap phase: publish the staged delta batch to the fuzzy
    delta logs (O(changed terms), base untouched), compacting when the
    log is long; remove the delta staging dir."""
    if delta_path is None:
        return
    from documents_vector_search_spark.collection.fuzzy_artifacts import (
        DEFAULT_COMPACT_AFTER,
        DEFAULT_MAX_EDITS,
        publish_vocab_delta,
    )

    cfg = manifest.converter["fuzzy"]
    publish_vocab_delta(
        collection,
        staged,
        max_edits=int(cfg.get("maxEdits", DEFAULT_MAX_EDITS)),
        compact_after=int(cfg.get("compactAfter", DEFAULT_COMPACT_AFTER)),
    )
    shutil.rmtree(delta_path, ignore_errors=True)


def _field_stats_from_table(collection: Collection) -> dict:
    """Exact manifest fieldStats recomputed from the field_postings
    table (fl repeats per term row, so distinct per (doc, field)
    first). Convergence backstop for _exact_recount, and the doctor's
    reference."""
    rows = (
        collection.read("field_postings")
        .select("document_id", "field", "fl")
        .distinct()
        .groupBy("field")
        .agg(F.count("*").alias("n"), F.sum("fl").alias("s"))
        .collect()
    )
    stats: dict = {name: {"docs": 0, "sumFl": 0} for name in ("title", "body")}
    for r in rows:
        stats[r["field"]] = {"docs": int(r["n"]), "sumFl": int(r["s"])}
    return stats


def _stat_leg(
    df: DataFrame,
    side: str,
    part,
    chunk_id=None,
    length=None,
    wm=None,
) -> DataFrame:
    """One input of the fused statistics job: rows of ``df`` tagged
    with their side (``stale`` = leaving the collection, ``fresh`` =
    entering) and the part they count (``_chunks``, ``_documents``, or
    a BM25F field name — ``part`` may be a Column), carrying the chunk
    id, a token length and a watermark where the part has one."""
    return df.select(
        F.lit(side).alias("_side"),
        (F.lit(part) if isinstance(part, str) else part).alias("part"),
        F.lit(chunk_id).cast("bigint").alias("chunk_id"),
        F.lit(length).cast("bigint").alias("len"),
        F.lit(wm).cast("timestamp").alias("wm"),
    )


def _apply_stats(manifest: Manifest, stats: dict) -> None:
    """Incremental manifest arithmetic from the fused statistics job
    (``stats[(side, part)]`` → count ``n``, length ``total``, max chunk
    id ``last``, max ``wm``): −stale +fresh for the document and chunk
    counts, avgdl (from the total length, not a corpus recount) and
    BM25F fieldStats; the counter strategy's lastIndexItemId and the
    watermark advance from the fresh leg (a delete has none, so
    neither moves)."""
    empty = {"n": 0, "total": 0, "last": None, "wm": None}

    def get(side: str, part: str) -> dict:
        return stats.get((side, part), empty)

    manifest.numberOfDocuments = max(
        0,
        manifest.numberOfDocuments
        - get("stale", "_documents")["n"]
        + get("fresh", "_documents")["n"],
    )
    old_n = manifest.numberOfChunks
    new_n = old_n - get("stale", "_chunks")["n"] + get("fresh", "_chunks")["n"]
    manifest.numberOfChunks = max(0, new_n)
    if new_n <= 0:
        manifest.avgChunkLength = None
    else:
        # None at zero chunks: a refilled collection starts from 0
        total = (
            (manifest.avgChunkLength or 0.0) * old_n
            - get("stale", "_chunks")["total"]
            + get("fresh", "_chunks")["total"]
        )
        manifest.avgChunkLength = max(float(total), 0.0) / new_n
    for name, rec in manifest.fieldStats.items():
        rec["docs"] = max(
            0,
            int(rec["docs"])
            - get("stale", name)["n"]
            + get("fresh", name)["n"],
        )
        rec["sumFl"] = max(
            0,
            int(rec["sumFl"])
            - get("stale", name)["total"]
            + get("fresh", name)["total"],
        )
    last = get("fresh", "_chunks")["last"]
    counter_ids = manifest.converter.get("idStrategy", "counter") == "counter"
    if counter_ids and last is not None:
        manifest.lastIndexItemId = max(manifest.lastIndexItemId, int(last))
    wm = get("fresh", "_documents")["wm"]
    if wm is not None:
        new_wm = wm.isoformat() if isinstance(wm, datetime) else str(wm)
        if (
            manifest.lastModifiedDocumentTime is None
            or new_wm > manifest.lastModifiedDocumentTime
        ):
            manifest.lastModifiedDocumentTime = new_wm


def _exact_recount(collection: Collection, manifest: Manifest) -> Manifest:
    """Recompute the manifest's table-derived stats from the stored
    tables, rebuild the fuzzy artifacts from postings, clear the
    in-flight record, and persist.

    Run by a writer that finds the ``inFlight`` record of a batch that
    died between its first swap and its manifest save. Under the
    counter id strategy lastIndexItemId also moves past every stored
    chunk id, so the next batch's fresh ids cannot collide with chunks
    the interrupted batch already committed. The interrupted batch may
    have merged postings without publishing its vocabulary delta, and
    a re-run's delta is computed against the merged postings, so the
    fuzzy artifacts are rebuilt (the ``refit-fuzzy`` compaction)."""
    stats = chunk_stats(collection.read("chunks"))
    manifest.numberOfDocuments = collection.read("documents").count()
    manifest.numberOfChunks = stats["n"]
    manifest.avgChunkLength = (
        float(stats["avgdl"]) if stats["avgdl"] is not None else None
    )
    manifest.fieldStats = _field_stats_from_table(collection)
    if (
        manifest.converter.get("idStrategy", "counter") == "counter"
        and stats["last"] is not None
    ):
        manifest.lastIndexItemId = max(
            manifest.lastIndexItemId, int(stats["last"])
        )
    fuzzy = manifest.converter.get("fuzzy")
    if fuzzy:
        from documents_vector_search_spark.collection.fuzzy_artifacts import (
            DEFAULT_MAX_EDITS,
            compact_fuzzy_artifacts,
        )

        compact_fuzzy_artifacts(
            collection, int(fuzzy.get("maxEdits", DEFAULT_MAX_EDITS))
        )
    manifest.inFlight = None
    collection.save_manifest(manifest)
    return manifest


def _open_for_write(collection: Collection) -> Manifest:
    """Load the manifest and recover an interrupted earlier write:
    refuse an outdated format (before touching any directory), roll
    back half-swapped partitions and drop orphaned staging dirs, and
    recount the manifest when it carries an ``inFlight`` record."""
    manifest = collection.checked_manifest()
    # a hand-edited ann+ivf manifest has no write path: refuse it
    # before any directory changes
    VectorLayout.from_converter(manifest.converter)
    _recover_orphans(collection, [*TABLES, *_FUZZY_TABLES])
    if manifest.inFlight is not None:
        manifest = _exact_recount(collection, manifest)
    return manifest


def _merge(
    collection: Collection,
    manifest: Manifest,
    op: str,
    ids: DataFrame,
    fresh_rows: Callable[[], dict[str, DataFrame]] | None = None,
) -> Manifest:
    """The staged merge behind :func:`update_collection` and
    :func:`delete_documents`.

    ``ids`` (an ``id`` column) names every document the batch replaces
    or removes. ``fresh_rows`` builds the batch's fresh rows per table,
    each carrying ``_pb`` — an update's re-chunked, re-indexed
    documents; a delete passes none (an empty fresh leg). Every table
    drops the batch documents' rows by anti-join (chunk-keyed tables on
    their chunk ids), unions the fresh rows, and only the affected
    ``_pb`` directories swap."""
    ub = int(manifest.converter["updateBuckets"])
    # localCheckpoint: the id list feeds the bucket collect, the drop
    # set, the document-keyed anti-joins and the statistics job —
    # materialized once instead of re-running the caller's lineage
    ids = ids.select(F.col("id").cast("string").alias("id")).distinct()
    ids = ids.localCheckpoint()
    doc_pbs = sorted(
        ids.agg(
            F.collect_set(pb_col(F.col("id"), ub)).alias("pbs")
        ).first()["pbs"]
    )
    if not doc_pbs:
        return manifest  # empty batch: nothing to do
    doc_keys = ids.withColumnRenamed("id", "document_id")

    # swap ORDER is the crash-convergence contract: derived tables
    # first, then chunks, documents last (dict order drives the swap)
    tables = ["embeddings", "postings", "field_postings", "chunks", "documents"]
    # Parquet partition pruning to the batch's buckets: every table
    # buckets by owning-document id, so doc_pbs is the affected set for
    # all of them — O(corpus/update_buckets) per table, not O(corpus)
    old = {
        t: collection.read(t).filter(F.col(UPDATE_PB_COL).isin(doc_pbs))
        for t in tables
    }
    fresh: dict[str, DataFrame] = {}
    if fresh_rows is not None:
        fresh = fresh_rows()

    # chunk ids to drop from every chunk-keyed table: the batch
    # documents' stored chunks AND the fresh chunk ids — the latter let
    # a re-run of an interrupted batch remove the rows its first run
    # already swapped into the derived tables. Materialized once (tiny):
    # every consumer broadcasts it instead of re-running the semi-join.
    drop = old["chunks"].join(doc_keys, "document_id", "left_semi").select(
        "chunk_id"
    )
    if fresh:
        drop = drop.unionByName(fresh["chunks"].select("chunk_id"))
    drop = drop.localCheckpoint()

    merged = {}
    for t in tables:
        if t == "documents":
            kept = old[t].join(ids, "id", "left_anti")
        elif t == "field_postings":
            kept = old[t].join(doc_keys, "document_id", "left_anti")
        else:
            kept = old[t].join(drop, "chunk_id", "left_anti")
        merged[t] = kept.unionByName(fresh[t]) if t in fresh else kept

    # ONE statistics job for both sides (inputs are tiny checkpoints and
    # batch-sized plans; the union costs nothing beyond their rows):
    # stale/fresh chunk counts and lengths, document counts (from the
    # documents table — the last to commit, so a crashed earlier run is
    # counted the way _exact_recount counts it), the watermark, and the
    # BM25F field stats from field_postings rows.
    stale_chunks = old["chunks"].join(drop, "chunk_id", "left_semi")
    legs = [
        _stat_leg(
            stale_chunks, "stale", "_chunks",
            chunk_id=F.col("chunk_id"),
            length=F.size(tokenize("indexed_data")),
        ),
        _stat_leg(
            old["documents"].join(ids, "id", "left_semi"),
            "stale", "_documents",
        ),
    ]
    if fresh:
        legs += [
            _stat_leg(
                fresh["chunks"], "fresh", "_chunks",
                chunk_id=F.col("chunk_id"),
                length=F.size(tokenize("indexed_data")),
            ),
            _stat_leg(
                fresh["documents"], "fresh", "_documents",
                wm=F.col("last_modified_at"),
            ),
        ]
    fp_sides = {
        "stale": old["field_postings"].join(
            doc_keys, "document_id", "left_semi"
        ),
        **({"fresh": fresh["field_postings"]} if fresh else {}),
    }
    legs += [
        _stat_leg(
            fp.select("document_id", "field", "fl").distinct(),
            side, F.col("field"),
            length=F.col("fl"),
        )
        for side, fp in fp_sides.items()
    ]
    stats_df = (
        reduce(DataFrame.unionByName, legs)
        .groupBy("_side", "part")
        .agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("len"), F.lit(0)).alias("total"),
            F.max("chunk_id").alias("last"),
            F.max("wm").alias("wm"),
        )
    )

    # fuzzy artifacts (collection/fuzzy_artifacts.py): aggregate the
    # vocabulary DELTA from exactly the postings rows this batch
    # touches and MATERIALIZE it before any swap (post-swap lazy reads
    # of the postings path would see merged data and double-count).
    # The statistics collect is an independent pre-swap read, so the
    # two driver actions run as concurrent jobs instead of summing.
    def _fuzzy() -> str | None:
        return _materialize_fuzzy_delta(
            collection,
            manifest,
            fresh.get("postings", old["postings"].limit(0)),
            old["postings"].join(drop, "chunk_id", "left_semi"),
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_fuzzy = pool.submit(_fuzzy)
        f_stats = pool.submit(stats_df.collect)
        fuzzy_delta_path = f_fuzzy.result()
        stats = {
            (r["_side"], r["part"]): {
                "n": int(r["n"]),
                "total": int(r["total"]),
                "last": r["last"],
                "wm": r["wm"],
            }
            for r in f_stats.result()
        }

    if not fresh and not stats.get(("stale", "_documents")) and not stats.get(
        ("stale", "_chunks")
    ):
        # unknown ids: nothing stored to remove
        if fuzzy_delta_path is not None:
            shutil.rmtree(fuzzy_delta_path, ignore_errors=True)
        return manifest

    manifest.inFlight = {"op": op}
    _record_zorder_degraded(manifest, doc_pbs)
    collection.save_manifest(manifest)
    # the fuzzy delta's two batch-dir stagings touch only __tmp dirs
    # (stage_vocab_delta contract), so they run CONCURRENTLY with the
    # swap — only the publish renames wait for the commit
    with ThreadPoolExecutor(max_workers=1) as pool:
        f_fuzzy_staged = pool.submit(
            _stage_fuzzy_delta, collection, manifest, fuzzy_delta_path
        )
        _swap_partitions(
            collection, merged, {t: doc_pbs for t in merged},
            manifest.converter,
        )
        fuzzy_staged = f_fuzzy_staged.result()

    _apply_stats(manifest, stats)
    _apply_fuzzy_delta(
        collection, manifest, fuzzy_delta_path, staged=fuzzy_staged
    )
    manifest.inFlight = None
    collection.save_manifest(manifest)
    return manifest


def update_collection(
    collection: Collection,
    changed_docs: DataFrame,
    embedder: Embedder | None = None,
    embedding_dim: int | None = None,
    embedder_tag: str | None = None,
    title_col: str | None = None,
) -> Manifest:
    """Apply an update batch of canonical documents (changed + new).

    The batch must be embedded in the SAME vector space as the create:
    dim and embedder identity are validated against the manifest's
    ``converter.embedding`` record — a mismatch raises instead of
    silently mixing incompatible vectors into one index."""
    manifest = _open_for_write(collection)
    splitter = manifest.converter.get("splitter", {})
    chunk_size = splitter.get("chunkSize", 1000)
    chunk_overlap = splitter.get("chunkOverlap", 100)
    # chunk-0 topology recorded at create: changed docs must re-chunk
    # the same way (title line from text vs title_col/id); the recorded
    # titleCol backstops callers that don't re-pass it
    title_from_text = bool(manifest.converter.get("titleFromText"))
    title_col = title_col or manifest.converter.get("titleCol")

    emb_cfg = manifest.converter["embedding"]
    recorded_dim = int(emb_cfg["dim"])
    if embedding_dim is not None and recorded_dim != embedding_dim:
        raise ValueError(
            f"embedding_dim={embedding_dim} does not match the "
            f"collection's recorded dim={recorded_dim}"
        )
    recorded_tag = emb_cfg.get("embedder")
    batch_tag = embedder_tag or ("hash" if embedder is None else "custom")
    if recorded_tag is not None and recorded_tag != batch_tag:
        raise ValueError(
            f"update embedder '{batch_tag}' does not match the collection's "
            f"recorded embedder '{recorded_tag}'; vectors from different "
            "embedders cannot share an index"
        )
    embed = embedder or default_embedder(recorded_dim)
    layout = VectorLayout.from_converter(manifest.converter)
    ub = int(manifest.converter["updateBuckets"])

    def bucketed(df: DataFrame, key: str) -> DataFrame:
        # the owning document's bucket (partitioning.py)
        return df.withColumn(UPDATE_PB_COL, pb_col(F.col(key), ub))

    def fresh_rows() -> dict[str, DataFrame]:
        # --- fresh chunks: ids per the collection's recorded strategy --
        # hash (default): deterministic on (document_id, chunk_number) —
        # a replaced document's chunks REUSE their ids, so updates stay
        # idempotent. counter: reference parity — continue from
        # lastIndexItemId (documents_collection_creator.py:129); bounded
        # update batch, so the global window is fine here.
        built = build_chunks(
            changed_docs, chunk_size, chunk_overlap, title_col, title_from_text
        )
        if manifest.converter.get("idStrategy", "counter") == "hash":
            chunks = _hash_chunk_ids(built)
        else:
            chunks = assign_chunk_ids(
                built,
                offset=manifest.lastIndexItemId + 1,
                id_col="document_id",
                chunk_number_col="chunk_number",
            )
        # Materialize the freshly built chunks ONCE: every index table,
        # the drop set, and the statistics job all read this frame —
        # without the checkpoint each of those driver actions re-runs
        # the chunking lineage, and job-count overhead (not data)
        # dominates the update. Batch-sized, so trivially small.
        chunks = bucketed(chunks, "document_id").localCheckpoint()

        # the create's layout columns, from the manifest's fitted
        # state: same bucket / cluster / codes as a create would write
        embeddings = layout.encode(
            chunks.select(
                "chunk_id",
                embed(F.col("indexed_data")).cast("array<float>").alias("vector"),
                UPDATE_PB_COL,
            )
        )

        # the create's postings layout: dl on every row, positions
        # when the manifest records the phrase layout
        postings = build_postings(
            chunks,
            id_col="chunk_id",
            text_col="indexed_data",
            with_dl=True,
            carry_cols=[UPDATE_PB_COL],
            with_positions=bool(manifest.converter.get("phrase")),
        )
        return {
            "documents": bucketed(changed_docs, "id"),
            "chunks": chunks,
            "embeddings": embeddings,
            "postings": postings,
            # document-level BM25F index, rebuilt from the batch's TEXT
            # with the collection's recorded field split (exact under
            # any chunk_overlap — build_field_postings docstring)
            "field_postings": bucketed(
                build_field_postings(changed_docs, title_col, title_from_text),
                "document_id",
            ),
        }

    return _merge(
        collection,
        manifest,
        "update",
        changed_docs.select("id"),
        fresh_rows,
    )


def delete_documents(
    collection: Collection,
    doc_ids,
) -> Manifest:
    """Remove documents — and every derived chunk/embedding/posting
    row — from the collection: the right-to-be-forgotten
    operation a training-data deployment must be able to run on
    demand (the reference can only upsert; documents deleted at the
    source linger in its indexes forever).

    ``doc_ids`` is a DataFrame with an ``id`` column, or any iterable
    of id strings. Unknown ids are no-ops. The same merge as
    :func:`update_collection` with no fresh rows: reads prune to the
    ids' ``_pb`` buckets, every table drops rows by anti-join, and only
    the affected partition directories swap (crash-recoverable) —
    O(affected buckets), not O(corpus). The watermark is untouched
    (deletion is not a document modification)."""
    manifest = _open_for_write(collection)
    if isinstance(doc_ids, DataFrame):
        ids = doc_ids.select("id")
    else:
        ids = collection.spark.createDataFrame(
            [(str(i),) for i in doc_ids], "id string"
        )
    return _merge(collection, manifest, "delete", ids)
