"""``search()`` groups its fused chunk hits on the driver and returns a
documents lookup (CollectionSearcher._document_page). Its rows must
equal the Spark-side composition it replaced, kept here as the
reference: search_chunks → join chunks → group_hits_by_document → join
documents → orderBy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from documents_vector_search_spark.collection import (
    Collection,
    CollectionSearcher,
    create_collection,
)
from documents_vector_search_spark.collection.searcher import DEFAULT_INDEXES
from documents_vector_search_spark.operators.bm25 import _query_terms
from documents_vector_search_spark.operators.group_hits import (
    group_hits_by_document,
)
from documents_vector_search_spark.operators.snippets import best_line_snippet


@pytest.fixture(scope="module")
def searcher(spark, canonical_docs, tmp_path_factory):
    """100 documents with positional postings, so the phrase branch
    runs on the same collection as the others."""
    coll = Collection(spark, str(tmp_path_factory.mktemp("tail")), "tail")
    create_collection(
        coll, canonical_docs, chunk_size=200, chunk_overlap=40,
        positional_postings=True,
    )
    return CollectionSearcher(coll)


def reference_search(
    s: CollectionSearcher,
    text: str,
    max_chunks: int = 15,
    max_documents: int | None = 10,
    indexes: tuple[str, ...] = DEFAULT_INDEXES,
    metadata_filter: str | None = None,
    include_chunk_text: bool = False,
    include_document_text: bool = False,
    diversify_lambda: float | None = None,
    include_snippets: bool = False,
    expand_query: bool = False,
    document_offset: int = 0,
):
    """The document-grouped tail as one Spark plan: join the fused hits
    to chunks, group with group_hits_by_document, join documents."""
    if diversify_lambda is not None:
        fused = s.search_chunks_diverse(
            text, max_chunks, lam=diversify_lambda, indexes=indexes,
            metadata_filter=metadata_filter,
        )
    else:
        fused = s.search_chunks(
            text, max_chunks, indexes, metadata_filter,
            expand_query=expand_query,
        )
    hit_chunks = fused.join(s._read("chunks"), "chunk_id").select(
        "chunk_id", "document_id", "chunk_number", "rank", "score",
        "indexed_data",
    )
    grouped = group_hits_by_document(
        hit_chunks, max_documents=max_documents, doc_col="document_id",
        chunk_col="chunk_number", offset=document_offset,
    )
    out_cols = [
        "document_id", "doc_rank", "url", "metadata", "last_modified_at",
        "matched_chunks", "best_score", "n_chunks",
    ]
    if include_chunk_text:
        texts = hit_chunks.groupBy("document_id").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("rank", "indexed_data"))),
                lambda t: t["indexed_data"],
            ).alias("matched_chunk_texts")
        )
        grouped = grouped.join(texts, "document_id")
        out_cols.append("matched_chunk_texts")
    if include_document_text:
        out_cols.append(F.col("text").alias("document_text"))
    docs = s._read("documents")
    joined = grouped.join(docs, grouped["document_id"] == docs["id"])
    if include_snippets:
        snip = best_line_snippet(
            joined.select("document_id", "text"), _query_terms(text),
            id_col="document_id",
        )
        joined = joined.join(F.broadcast(snip), "document_id")
        out_cols += [
            F.col("line_no").alias("snippet_line"),
            "snippet",
            F.col("n_hits").alias("snippet_hits"),
        ]
    return joined.select(*out_cols).orderBy("doc_rank")


def _shape(df) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


CASES = {
    "hybrid": ("hash join vector", {}),
    "bm25": ("sort merge join", {"indexes": ("bm25",)}),
    "vector": ("sort merge join", {"indexes": ("vector",)}),
    "phrase": ("hash join", {"indexes": ("phrase",)}),
    "metadata_filter": ("hash join", {"metadata_filter": 'lang = "en"'}),
    "include_texts": (
        "broadcast join",
        {"include_chunk_text": True, "include_document_text": True},
    ),
    "include_snippets": ("broadcast join", {"include_snippets": True}),
    "diversify": ("hash join", {"diversify_lambda": 0.5}),
    "expand_query": ("hash join", {"expand_query": True}),
    "document_offset": ("join", {"document_offset": 3, "max_documents": 4}),
    "all_documents": ("join", {"max_documents": None}),
    "no_hits": ("zzqqxx wwvvyy", {"indexes": ("bm25",)}),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_search_rows_equal_spark_side_tail(searcher, case):
    text, kwargs = CASES[case]
    got = searcher.search(text, **kwargs)
    want = reference_search(searcher, text, **kwargs)
    assert _shape(got) == _shape(want)
    rows = got.collect()
    assert rows == want.collect()
    assert bool(rows) == (case != "no_hits")
