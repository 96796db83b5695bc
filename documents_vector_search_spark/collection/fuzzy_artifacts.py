"""Fuzzy-search collection artifacts: vocabulary + deletion index.

``suggest`` / ``search --fuzzy`` need a term dictionary (term, ctf,
df) and its SymSpell deletion index (operators/fuzzy.py). Deriving
them from postings per query is fine for ad-hoc use but pays a
postings-wide aggregate every call; a collection created with
``fuzzy_dictionary=True`` materializes both as tables beside the
postings, so a suggestion probe is a PARTITION-PRUNED scan of the
deletion index (variant_bucket directories, the md5 term_bucket
scheme of operators/bm25.py) — bytes read ≈ |query deletion variants|
/ N_VARIANT_BUCKETS of a vocabulary-sized table.

Incremental maintenance is a DELTA LOG (the LSM / Lucene-segment
pattern, re-expressed on parquet partitions). Variant-bucket pruning
can never localize an UPDATE: a term's deletion variants hash
uniformly, so even a tiny changed-term set touches nearly every
bucket (measured at sf0.1: an 87-term delta hits 63/64 buckets), and
any rewrite-in-place scheme degenerates to a vocabulary-sized pass
per batch. Instead:

* the BASE tables (``vocab`` partitioned by term_bucket,
  ``deletion_index`` by variant_bucket) are IMMUTABLE between
  compactions — an update never reads or rewrites them;
* each update appends one ``batch=N`` partition to the DELTA tables
  (``vocab_deltas``: the signed (term, d_ctf, d_df) aggregate of only
  the changed postings rows; ``deletion_index_deltas``: those rows
  exploded to deletion variants, partitioned by variant_bucket inside
  the batch) — O(changed terms × avg_len) rows written, regardless of
  corpus or vocabulary size;
* readers fold base ∪ live deltas with a (term[, variant]) sum and
  drop rows netting to ctf ≤ 0 — removed terms tombstone themselves
  arithmetically, no special casing. Probe predicates (variant
  IN-list, variant_bucket IN, prefix startswith) are grouping-key
  filters, so Catalyst pushes them below the fold into BOTH scans and
  partition pruning still applies to base and deltas alike;
* after ``compactAfter`` batches the artifacts compact: the base
  rebuilds from the postings table (the source of truth), the new
  base carries a ``_delta_state.json`` sidecar naming the highest
  batch id it absorbed, and readers ignore batches at or below it.
  The sidecar travels INSIDE the staged ``__tmp`` directory, so the
  directory rename that publishes the new base atomically retires its
  deltas with it — a crash on either side of the rename reads a
  self-consistent (base, live-deltas) pair. Retired batch dirs are
  garbage-collected lazily by the next update.

Crash contract: batch appends stage under ``<table>__tmp`` and
publish by directory rename, the vocab rename last, so readers never
see half a batch. An update or delete that dies after its table swap
leaves the manifest's ``inFlight`` record, and the next writer rebuilds
both artifacts from postings with :func:`compact_fuzzy_artifacts` (the
``refit-fuzzy`` path) before its own batch (collection/updater.py
``_exact_recount``). A collection whose vocab is not partitioned by
term_bucket is refused by ``Collection.checked_manifest``.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from documents_vector_search_spark.operators.bm25 import term_bucket
from documents_vector_search_spark.operators.fuzzy import (
    build_deletion_index,
    build_term_dictionary,
)

VOCAB_TABLE = "vocab"
DELETION_INDEX_TABLE = "deletion_index"
VOCAB_DELTAS_TABLE = "vocab_deltas"
DELETION_INDEX_DELTAS_TABLE = "deletion_index_deltas"
N_VARIANT_BUCKETS = 64
DEFAULT_MAX_EDITS = 1
DEFAULT_COMPACT_AFTER = 8
_STATE_FILE = "_delta_state.json"


def deletion_index_df(vocab: DataFrame, max_edits: int = DEFAULT_MAX_EDITS) -> DataFrame:
    """(term, ctf, df, variant, variant_bucket) — bucketed by the SAME
    md5 scheme as the postings term_bucket, driver twin included."""
    didx = build_deletion_index(vocab, max_edits=max_edits)
    return didx.withColumn("variant_bucket", term_bucket(F.col("variant")))


# -- base build / compaction ------------------------------------------------


def _write_state(table_dir: Path, compacted_through: int) -> None:
    table_dir.mkdir(parents=True, exist_ok=True)
    (table_dir / _STATE_FILE).write_text(
        json.dumps({"compactedThrough": compacted_through})
    )


def _compacted_through(collection, base_table: str) -> int:
    p = Path(collection.table_path(base_table)) / _STATE_FILE
    try:
        return int(json.loads(p.read_text())["compactedThrough"])
    except (OSError, ValueError, KeyError):
        return 0  # pre-sidecar base: every batch dir is live


def _build_base(
    collection, max_edits: int, to: dict[str, Path] | None = None
) -> None:
    """Vocabulary from the postings table and deletion index from that
    vocabulary, each written through ``Collection.write`` (one file per
    bucket directory: unclustered, every shuffle task sprayed a file
    into every bucket, measured at sf0.1 as 2,047 files / 6.3s vs 64
    files / 0.7s for the same 23k rows) — to the live tables, or staged
    at ``to[table]``. The vocabulary aggregate is materialized ONCE
    (localCheckpoint), then the two tables write as CONCURRENT
    driver-thread jobs: the deletion-index explode does not wait for
    the vocab commit (the creator's fan-out pattern; a cluster run
    pairs it with FAIR pools)."""
    from concurrent.futures import ThreadPoolExecutor

    vocab = (
        build_term_dictionary(collection.read("postings"))
        .withColumn("term_bucket", term_bucket(F.col("term")))
        .localCheckpoint()
    )
    frames = {
        VOCAB_TABLE: vocab,
        DELETION_INDEX_TABLE: deletion_index_df(
            vocab.drop("term_bucket"), max_edits
        ),
    }
    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [
            pool.submit(collection.write, t, df, to=(to or {}).get(t))
            for t, df in frames.items()
        ]
        for f in futures:
            f.result()


def write_fuzzy_artifacts(
    collection, max_edits: int = DEFAULT_MAX_EDITS
) -> None:
    """Fresh (create-time) build of both base tables; any existing
    delta log is cleared (a fresh base absorbs everything)."""
    _build_base(collection, max_edits)
    for table in (VOCAB_TABLE, DELETION_INDEX_TABLE):
        _write_state(Path(collection.table_path(table)), 0)
    for table in (VOCAB_DELTAS_TABLE, DELETION_INDEX_DELTAS_TABLE):
        shutil.rmtree(collection.table_path(table), ignore_errors=True)


def compact_fuzzy_artifacts(
    collection, max_edits: int = DEFAULT_MAX_EDITS
) -> None:
    """Fold the delta log into a fresh base. The base rebuilds from the
    POSTINGS table (source of truth — deltas were derived from the same
    batches postings already absorbed), staged under ``__tmp`` with a
    ``_delta_state.json`` naming the highest live batch id, then
    published by directory rename: readers before the rename see
    old base + live deltas, readers after see new base + no live
    deltas — consistent on both sides of a crash. Also the
    ``refit-fuzzy`` enable/recovery path."""
    high = _next_batch_id(collection) - 1
    staged = {
        table: Path(collection.table_path(f"{table}__tmp"))
        for table in (VOCAB_TABLE, DELETION_INDEX_TABLE)
    }
    _build_base(collection, max_edits, to=staged)
    for table, tmp in staged.items():
        _write_state(tmp, high)
        final = Path(collection.table_path(table))
        old = final.with_name(f"{table}__old")
        if final.exists():
            final.rename(old)
        tmp.rename(final)
        if old.exists():
            shutil.rmtree(old)
    _gc_retired_batches(collection)


# -- delta append -----------------------------------------------------------


def vocab_delta(fresh_postings: DataFrame, stale_postings: DataFrame) -> DataFrame:
    """(term, d_ctf, d_df) aggregated from ONLY the changed postings
    rows — the vocabulary update never rescans the corpus."""
    fresh = fresh_postings.groupBy("term").agg(
        F.sum("tf").cast("bigint").alias("_fc"),
        F.count("*").cast("bigint").alias("_fd"),
    )
    stale = stale_postings.groupBy("term").agg(
        F.sum("tf").cast("bigint").alias("_sc"),
        F.count("*").cast("bigint").alias("_sd"),
    )
    return (
        fresh.join(stale, "term", "full_outer")
        .select(
            "term",
            (F.coalesce("_fc", F.lit(0)) - F.coalesce("_sc", F.lit(0))).alias("d_ctf"),
            (F.coalesce("_fd", F.lit(0)) - F.coalesce("_sd", F.lit(0))).alias("d_df"),
        )
        .filter((F.col("d_ctf") != 0) | (F.col("d_df") != 0))
    )


def _batch_dirs(collection, deltas_table: str) -> list[tuple[int, Path]]:
    root = Path(collection.table_path(deltas_table))
    if not root.is_dir():
        return []
    out = []
    for d in root.iterdir():
        if d.is_dir() and d.name.startswith("batch="):
            try:
                out.append((int(d.name.split("=", 1)[1]), d))
            except ValueError:
                continue
    return sorted(out)


def _next_batch_id(collection) -> int:
    high = max(
        _compacted_through(collection, VOCAB_TABLE),
        _compacted_through(collection, DELETION_INDEX_TABLE),
        *(
            [b for b, _ in _batch_dirs(collection, VOCAB_DELTAS_TABLE)] or [0]
        ),
        *(
            [b for b, _ in _batch_dirs(collection, DELETION_INDEX_DELTAS_TABLE)]
            or [0]
        ),
    )
    return high + 1


def _stage_batch(
    collection, deltas_table: str, df: DataFrame,
    partition_by: list[str] | None = None,
) -> Path:
    """Materialize one batch under ``<table>__tmp`` (the slow Spark
    write) WITHOUT publishing it — existing batches and the base are
    never touched."""
    tmp = Path(collection.table_path(f"{deltas_table}__tmp"))
    shutil.rmtree(tmp, ignore_errors=True)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(str(tmp))
    return tmp


def _publish_batch(
    collection, deltas_table: str, batch_id: int, tmp: Path
) -> None:
    """Publish a staged batch with one directory rename."""
    dest = Path(collection.table_path(deltas_table)) / f"batch={batch_id}"
    dest.parent.mkdir(parents=True, exist_ok=True)
    tmp.rename(dest)


def _committed_batches(collection) -> set[int]:
    """Batch ids the append COMMITTED: publish_vocab_delta renames the
    vocab batch LAST, so presence in the vocab log is the commit
    marker — a deletion-index batch without its vocab twin is the
    orphan of a crash between the two renames and must stay invisible
    to readers until GC'd."""
    return {b for b, _ in _batch_dirs(collection, VOCAB_DELTAS_TABLE)}


def _gc_retired_batches(collection) -> None:
    """Drop batch dirs a compaction has absorbed (id ≤ the base's
    compactedThrough), deletion-index batches whose vocab twin never
    committed (crash between the adjacent renames — the updater re-runs
    the whole batch, so the orphan is superseded), and any orphaned
    staging dir — lazy, idempotent."""
    committed = _committed_batches(collection)
    for deltas_table, base_table in (
        (VOCAB_DELTAS_TABLE, VOCAB_TABLE),
        (DELETION_INDEX_DELTAS_TABLE, DELETION_INDEX_TABLE),
    ):
        ct = _compacted_through(collection, base_table)
        for batch_id, d in _batch_dirs(collection, deltas_table):
            if batch_id <= ct or (
                deltas_table == DELETION_INDEX_DELTAS_TABLE
                and batch_id not in committed
            ):
                shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(
            collection.table_path(f"{deltas_table}__tmp"), ignore_errors=True
        )


def stage_vocab_delta(
    collection,
    delta_path: str,
    max_edits: int = DEFAULT_MAX_EDITS,
) -> dict | None:
    """Staging half of the delta append: materialize BOTH batch dirs
    under ``<table>__tmp`` (the slow Spark writes, run as two
    concurrent driver jobs). Touches ONLY staging dirs — never the
    base, the live logs, or any swapped table — so the updater runs it
    CONCURRENTLY with its partition swap; a crash here leaves orphan
    ``__tmp`` dirs that ``_gc_retired_batches`` sweeps. Returns the
    handle :func:`publish_vocab_delta` consumes (None = empty delta)."""
    delta = collection.spark.read.parquet(delta_path)
    if not delta.head(1):
        return None  # empty delta (idempotent re-send) — nothing changed

    _gc_retired_batches(collection)
    didx_delta = deletion_index_df(
        delta.select(
            "term",
            F.col("d_ctf").alias("ctf"),
            F.col("d_df").alias("df"),
        ),
        max_edits,
    ).select(
        "term",
        F.col("ctf").alias("d_ctf"),
        F.col("df").alias("d_df"),
        "variant",
        "variant_bucket",
    )
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_didx = pool.submit(
            _stage_batch,
            collection,
            DELETION_INDEX_DELTAS_TABLE,
            # keyed repartition: one file per touched bucket. Without a
            # fixed count AQE sizes it from the delta's bytes, so a
            # batch-sized delta writes from one task instead of 64
            # near-empty ones, and a huge backfill still fans out
            didx_delta.repartition(F.col("variant_bucket")),
            ["variant_bucket"],
        )
        f_vocab = pool.submit(
            _stage_batch, collection, VOCAB_DELTAS_TABLE, delta.repartition(1)
        )
        return {"tmp_didx": f_didx.result(), "tmp_vocab": f_vocab.result()}


def publish_vocab_delta(
    collection,
    staged: dict | None,
    max_edits: int = DEFAULT_MAX_EDITS,
    compact_after: int = DEFAULT_COMPACT_AFTER,
) -> None:
    """Publish half: the two adjacent directory renames with the VOCAB
    rename as the commit point — readers treat a deletion-index batch
    without its vocab twin as uncommitted (_committed_batches), so a
    crash anywhere in this sequence leaves both probes serving the
    same committed state; the next batch id is computed across BOTH
    logs so an orphan can never collide with a live id. Must run AFTER
    the document-table swap commits (a delta published before it would
    leave fuzzy one batch AHEAD of postings on a crash)."""
    if staged is None:
        return
    batch_id = _next_batch_id(collection)
    _publish_batch(
        collection, DELETION_INDEX_DELTAS_TABLE, batch_id, staged["tmp_didx"]
    )
    _publish_batch(
        collection, VOCAB_DELTAS_TABLE, batch_id, staged["tmp_vocab"]
    )
    live = _batch_dirs(collection, VOCAB_DELTAS_TABLE)
    if len(live) >= compact_after:
        compact_fuzzy_artifacts(collection, max_edits)


# -- folded readers ---------------------------------------------------------


def _live_delta_df(collection, deltas_table: str, base_table: str):
    batches = _batch_dirs(collection, deltas_table)
    ct = _compacted_through(collection, base_table)
    live = [(b, d) for b, d in batches if b > ct]
    if deltas_table == DELETION_INDEX_DELTAS_TABLE:
        # exclude uncommitted orphans of a crash between the adjacent
        # publish renames (vocab commits last — see _committed_batches)
        committed = _committed_batches(collection)
        live = [(b, d) for b, d in live if b in committed]
    if not live:
        return None
    root = str(Path(collection.table_path(deltas_table)))
    return collection.spark.read.option("basePath", root).parquet(
        *[str(d) for _, d in live]
    )


def read_vocab(collection, base: DataFrame | None = None) -> DataFrame:
    """Current vocabulary — base ∪ delta log folded by term, rows
    netting to ctf ≤ 0 dropped. Predicates on ``term`` (the grouping
    key — e.g. autocomplete's startswith) push below the fold into
    both scans."""
    if base is None:
        base = collection.read(VOCAB_TABLE)
    base = base.select("term", "ctf", "df")
    delta = _live_delta_df(collection, VOCAB_DELTAS_TABLE, VOCAB_TABLE)
    if delta is None:
        return base
    return (
        base.unionByName(
            delta.select(
                "term",
                F.col("d_ctf").alias("ctf"),
                F.col("d_df").alias("df"),
            )
        )
        .groupBy("term")
        .agg(
            F.sum("ctf").cast("bigint").alias("ctf"),
            F.sum("df").cast("bigint").alias("df"),
        )
        .filter(F.col("ctf") > 0)
    )


def read_deletion_index(collection, base: DataFrame | None = None) -> DataFrame:
    """Current deletion index — base ∪ delta log folded by
    (term, variant). The probe's ``variant`` IN-list and
    ``variant_bucket`` partition filter are grouping-key predicates,
    so they push below the fold and prune base and delta scans
    alike."""
    if base is None:
        base = collection.read(DELETION_INDEX_TABLE)
    base = base.select("term", "ctf", "df", "variant", "variant_bucket")
    delta = _live_delta_df(
        collection, DELETION_INDEX_DELTAS_TABLE, DELETION_INDEX_TABLE
    )
    if delta is None:
        return base
    return (
        base.unionByName(
            delta.select(
                "term",
                F.col("d_ctf").alias("ctf"),
                F.col("d_df").alias("df"),
                "variant",
                "variant_bucket",
            )
        )
        .groupBy("term", "variant", "variant_bucket")
        .agg(
            F.sum("ctf").cast("bigint").alias("ctf"),
            F.sum("df").cast("bigint").alias("df"),
        )
        .filter(F.col("ctf") > 0)
        .select("term", "ctf", "df", "variant", "variant_bucket")
    )
