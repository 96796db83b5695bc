"""Collection layer: the reference's storage lifecycle on Parquet tables.

A collection (reference README.md:72-84; created by
main/core/documents_collection_creator.py) becomes one directory of
Parquet tables (catalog.TABLES) + a manifest:

    {base}/{name}/documents/       id, url, metadata MAP, text,
                                   last_modified_at, source_type
    {base}/{name}/chunks/          chunk_id, document_id, chunk_number,
                                   indexed_data
    {base}/{name}/embeddings/      chunk_id, vector ARRAY<FLOAT>
                                   (+ the vector layout's columns)
    {base}/{name}/postings/        chunk_id, term, tf, [positions], dl
    {base}/{name}/field_postings/  document_id, field, term, tf, fl
    {base}/{name}/manifest.json

Every table is partitioned by the owning document's ``_pb`` update
bucket (partitioning.py). ``dl`` on each postings row is its chunk's
token length, so BM25 and QL scoring need no separate length table; a
``doc_stats/`` directory that older versions wrote is ignored.

The reference's index-mapping JSON files (index_document_mapping.json,
reverse_index_document_mapping.json — documents_collection_creator.py:
169-178) are NOT materialized: chunk→document resolution is a join on
the chunks table (SURVEY §1.1), which Spark executes as a broadcast for
top-k-sized probes.
"""

from documents_vector_search_spark.collection.catalog import Collection
from documents_vector_search_spark.collection.creator import create_collection
from documents_vector_search_spark.collection.manifest import Manifest
from documents_vector_search_spark.collection.searcher import CollectionSearcher
from documents_vector_search_spark.collection.updater import (
    delete_documents,
    update_collection,
)
from documents_vector_search_spark.collection.fetcher import fetch_document_lines
from documents_vector_search_spark.collection.compactor import compact_collection
from documents_vector_search_spark.collection.refit import (
    refit_ivf,
    refit_sq8,
    refit_topics,
)

__all__ = [
    "Collection",
    "create_collection",
    "Manifest",
    "CollectionSearcher",
    "update_collection",
    "delete_documents",
    "fetch_document_lines",
    "compact_collection",
    "refit_ivf",
    "refit_sq8",
    "refit_topics",
]
