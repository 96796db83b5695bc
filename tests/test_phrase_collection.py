"""Phrase search integrated with the collection index lifecycle:
positional postings layout at create, phrase branch in the searcher,
layout preserved through incremental update, loud error without it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from documents_vector_search_spark.collection import (
    Collection,
    CollectionSearcher,
    create_collection,
    update_collection,
)


def _docs(spark, rows):
    return spark.createDataFrame(
        [
            (
                rid,
                f"file:///p/{rid}",
                {"lang": "en"},
                text,
                "2024-03-01 00:00:00",
                "localFiles",
            )
            for rid, text in rows
        ],
        "id string, url string, metadata map<string,string>, text string, "
        "last_modified_at string, source_type string",
    ).withColumn("last_modified_at", F.col("last_modified_at").cast("timestamp"))


@pytest.fixture(scope="module")
def phrase_coll(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("phrase_coll"))
    coll = Collection(spark, base, "pcorp")
    docs = _docs(
        spark,
        [
            ("d1", "the hash join wins over sort merge"),
            ("d2", "join hash is reversed so no phrase here"),
            ("d3", "hash join and hash join again means two hits"),
            ("d4", "nothing relevant at all in this one"),
        ],
    )
    create_collection(
        coll, docs, chunk_size=200, chunk_overlap=0, positional_postings=True
    )
    return coll


@pytest.fixture(scope="module")
def plain_coll(spark, tmp_path_factory):
    """A collection built WITHOUT positional postings (read-only)."""
    base = str(tmp_path_factory.mktemp("plain_coll"))
    coll = Collection(spark, base, "plain")
    create_collection(
        coll,
        _docs(spark, [("d1", "hash join here")]),
        chunk_size=100,
        chunk_overlap=0,
    )
    return coll


class TestPhraseCollection:
    def test_postings_carry_positions(self, phrase_coll):
        postings = phrase_coll.read("postings")
        assert "positions" in postings.columns
        row = postings.filter(F.col("term") == "reversed").first()
        assert row is not None and row["tf"] == len(row["positions"])
        assert phrase_coll.manifest().converter["phrase"] == {
            "positional": True
        }

    def test_phrase_search_exact_adjacency(self, phrase_coll):
        s = CollectionSearcher(phrase_coll)
        hits = s.search("hash join", indexes=("phrase",)).collect()
        ids = [r["document_id"] for r in hits]
        assert "d1" in ids and "d3" in ids
        assert "d2" not in ids and "d4" not in ids
        # d3 contains the phrase twice -> outranks d1 (chunk score = 2)
        assert ids[0] == "d3"

    def test_phrase_fuses_with_other_indexes(self, phrase_coll):
        s = CollectionSearcher(phrase_coll)
        fused = s.search("hash join", indexes=("bm25", "phrase")).collect()
        assert fused  # RRF over both branches still produces results
        # d2 has both terms (bm25 hit) but not the phrase; it may appear
        # via the bm25 branch, but never above the phrase matches
        ids = [r["document_id"] for r in fused]
        assert ids.index("d3") < ids.index("d2")

    def test_metadata_filter_applies_to_phrase_branch(self, phrase_coll):
        s = CollectionSearcher(phrase_coll, field_types={"lang": "string"})
        hits = s.search(
            "hash join", indexes=("phrase",), metadata_filter='lang = "xx"'
        ).collect()
        assert hits == []

    def test_update_preserves_positional_layout(self, spark, phrase_coll):
        fresh = _docs(spark, [("d5", "a new hash join document arrives")])
        fresh = fresh.withColumn(
            "last_modified_at",
            F.lit("2024-03-02 00:00:00").cast("timestamp"),
        )
        update_collection(phrase_coll, fresh)
        postings = phrase_coll.read("postings")
        assert "positions" in postings.columns
        s = CollectionSearcher(phrase_coll)
        ids = [
            r["document_id"]
            for r in s.search("hash join", indexes=("phrase",)).collect()
        ]
        assert "d5" in ids

    def test_non_positional_collection_raises(self, plain_coll):
        s = CollectionSearcher(plain_coll)
        with pytest.raises(ValueError, match="positional"):
            s.search("hash join", indexes=("phrase",)).collect()


class TestPhraseBatch:
    def test_batch_equals_per_query(self, spark, phrase_coll):
        s = CollectionSearcher(phrase_coll)
        queries = {"q0": "hash join", "q1": "sort merge", "q2": "zz absent"}
        batch = s.search_chunks_many(queries, 10, indexes=("phrase",))
        got = {
            qid: [(r["chunk_id"], r["rank"], r["score"]) for r in rows]
            for qid, rows in (
                (q, batch.filter(F.col("qid") == q)
                 .orderBy("rank").collect())
                for q in queries
            )
        }
        for qid, text in queries.items():
            single = [
                (r["chunk_id"], r["rank"], r["score"])
                for r in s.search_chunks(text, 10, indexes=("phrase",))
                .orderBy("rank")
                .collect()
            ]
            assert got[qid] == single, qid

    def test_batch_fuses_with_bm25(self, spark, phrase_coll):
        s = CollectionSearcher(phrase_coll)
        queries = {"q0": "hash join"}
        batch = s.search_chunks_many(queries, 10, indexes=("bm25", "phrase"))
        single = s.search_chunks("hash join", 10, indexes=("bm25", "phrase"))
        assert [
            (r["chunk_id"], r["rank"], r["score"])
            for r in batch.filter(F.col("qid") == "q0").orderBy("rank").collect()
        ] == [
            (r["chunk_id"], r["rank"], r["score"])
            for r in single.orderBy("rank").collect()
        ]

    def test_batch_phrase_requires_positional(self, plain_coll):
        s = CollectionSearcher(plain_coll)
        with pytest.raises(ValueError, match="positional"):
            s.search_chunks_many({"q0": "hash join"}, 5, indexes=("phrase",))
