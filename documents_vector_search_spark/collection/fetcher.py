"""Point fetch from a collection (reference
main/core/documents_collection_fetcher.py:10-39 — SURVEY §2.5 Q7)."""

from __future__ import annotations

from documents_vector_search_spark.collection.catalog import Collection
from documents_vector_search_spark.collection.partitioning import point_lookup
from documents_vector_search_spark.operators.fetch import fetch_lines


class DocumentNotFoundError(KeyError):
    """Reference raises FileNotFoundError for a missing doc JSON
    (documents_collection_fetcher.py:14-15); same contract, Spark-side."""


def fetch_document_lines(
    collection: Collection,
    document_id: str,
    start_line: int = 1,
    end_line: int = 200,
) -> dict:
    """Fetch a document's line range; raises DocumentNotFoundError.
    The read filters on the ``_pb`` bucket that owns the id, so a file
    scan reads that one directory."""
    docs = point_lookup(
        collection.read("documents"),
        [document_id],
        int(collection.manifest().converter["updateBuckets"]),
    )
    result = fetch_lines(
        docs,
        document_id,
        start_line,
        end_line,
        id_col="id",
        text_col="text",
    )
    row = result.first()
    if row is None:
        raise DocumentNotFoundError(document_id)
    return row.asDict()
