"""Update-bucket partitioning: the layout that makes incremental
updates O(changed), not O(corpus).

Every collection table (catalog.TABLES: documents, chunks, embeddings,
postings, field_postings) carries a ``_pb`` (partition bucket)
directory column — a stable md5-derived bucket of the OWNING
DOCUMENT's id. Chunk-keyed rows (chunks, embeddings, postings) inherit
the bucket from their parent document rather than hashing their own
chunk id: every row an update deletes belongs to a changed document,
so bucketing by owner keeps delete locality AND bounds the affected
set at ≤ batch-doc-count buckets across ALL tables — a batch's chunk
ids would otherwise spray over every bucket. The updater reads only
those partitions (Parquet partition pruning), merges, and swaps just
those directories, derived tables first: embeddings, postings,
field_postings, chunks, documents. Unaffected partitions — files,
mtimes, everything — are never rewritten.

The embeddings' ANN layouts keep their query-pruning column as a
SIBLING partition level (``bucket=*/_pb=N``, ``cluster_id=*/_pb=N``;
collection/vector_layout.py):
Spark prunes on ANY directory level, not just a prefix, so query-side
pruning is unchanged while update-side pruning composes with it. The
term-keyed tables (postings, field_postings) have no level beside
``_pb``, and their files are sorted by ``term``, so a query's
``term IN (...)`` filter skips row groups on the sorted column's
min/max stats instead of listing per-term-bucket directories — 64×
fewer files to create, list and rewrite per bucket.

Every directory of every table holds ONE file: all writers go through
``catalog.Collection.write``, whose ``write_layout`` derives the
directory columns from the manifest record and repartitions by them
(the Z-order documents layout is the one range-clustered exception).

Sizing: a single-doc update rewrites ~1/``update_buckets`` of each
table, so size ``update_buckets`` to your rewrite budget — the default
8 suits test corpora; a 100 TB deployment wants 1024+ (≈100 GB per
bucket). Recorded in the manifest (``converter.updateBuckets``) so
updates reproduce the exact same bucketing.

The reference rebuilds whole indexes on update (FAISS delete+re-add is
in-memory, main/core/documents_collection_creator.py:73-98); this is
the partition-pruned disk analog.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from documents_vector_search_spark.functions.hashing import md5_hash64, md5_hash64_py

UPDATE_PB_COL = "_pb"

# tables whose bucket files Collection.write sorts by term
TERM_SORTED_TABLES = ("postings", "field_postings")


def pb_col(key: Column, n_buckets: int) -> Column:
    """Partition bucket of a delete key — md5-derived (stable across
    engines and sessions, unlike hash/xxhash64 whose seeds are
    Spark-internal)."""
    return (md5_hash64(key.cast("string")) % F.lit(n_buckets)).cast("int")


def point_lookup(
    df: DataFrame,
    document_ids,
    n_buckets: int,
    id_col: str | None = "id",
) -> DataFrame:
    """``df`` cut to the rows of ``document_ids``: ``_pb IN`` the
    buckets that own them (the driver-side twin of :func:`pb_col`, so
    a file scan prunes to those directories) and, unless ``id_col`` is
    None, the pushed ``id_col IN`` filter. ``id_col=None`` serves a
    table keyed by chunk, whose rows carry only the owner's bucket."""
    ids = sorted(set(document_ids))
    pbs = sorted({md5_hash64_py(i) % n_buckets for i in ids})
    out = df.filter(F.col(UPDATE_PB_COL).isin(pbs))
    return out.filter(F.col(id_col).isin(ids)) if id_col else out


def pb_dirs(root: Path, pbs: set[int], col: str = UPDATE_PB_COL) -> list[Path]:
    """All ``<col>=X`` directories under ``root`` whose X is in ``pbs``
    — ONE tree walk regardless of how many buckets are affected (a
    per-bucket glob would rescan the layout tree O(buckets) times; at
    production bucket counts that dominates the swap). ``col`` defaults
    to the update bucket; the fuzzy artifacts swap on their own
    query-pruning columns (``term_bucket`` / ``variant_bucket``)."""
    prefix = f"{col}="
    out = []
    for p in root.rglob(f"{prefix}*"):
        if p.is_dir():
            try:
                if int(p.name[len(prefix):]) in pbs:
                    out.append(p)
            except ValueError:
                continue
    return out
