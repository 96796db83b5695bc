"""Collection lifecycle end-to-end: create → search → fetch → update.

The golden-path test the reference never had (SURVEY §5): real corpus →
create (chunk/embed/index) → hybrid + filtered search → point fetch →
incremental update with the reference's invariants (chunk ids continue
from lastIndexItemId; stale chunks absent from every index; unchanged
re-sends idempotent)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from documents_vector_search_spark.collection import (
    Collection,
    CollectionSearcher,
    create_collection,
    fetch_document_lines,
    update_collection,
)
from documents_vector_search_spark.collection.fetcher import DocumentNotFoundError


@pytest.fixture(scope="module")
def canonical_docs(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return docs.limit(100).select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("id"),
        F.concat(F.lit("file:///corpus/"), F.col("doc_id")).alias("url"),
        F.create_map(
            F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
        ).alias("metadata"),
        F.col("text"),
        F.lit("2024-03-01 00:00:00").cast("timestamp").alias("last_modified_at"),
        F.lit("localFiles").alias("source_type"),
    )


@pytest.fixture(scope="module")
def collection(spark, canonical_docs, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("collections"))
    coll = Collection(spark, base, "corpus")
    create_collection(coll, canonical_docs, chunk_size=200, chunk_overlap=40)
    return coll


class TestCreate:
    def test_manifest_stats_match_corpus_recompute(
        self, spark, tmp_path_factory
    ):
        """The r12 optimization derives the manifest's tokenize-based
        stats from the written index tables (avgdl from doc_stats,
        BM25F fieldStats from field_postings) instead of re-tokenizing
        the corpus. Pin that derivation against the definition those
        stats always had — aggregates over tokenize() of the documents
        — on a corpus that includes an EMPTY body (title_from_text doc
        with no blank-line separator), the edge the fl>0 docs-count
        convention exists for."""
        from documents_vector_search_spark.functions.text import tokenize
        from documents_vector_search_spark.operators.bm25 import (
            field_text_exprs,
        )

        rows = [
            ("d0", "Title only no separator"),  # body empty under the split
            ("d1", "A title line\n\nbody text with several tokens here"),
            ("d2", "Second title\n\nmore body words"),
            ("d3", "Third\n\nshared tokens body body body"),
        ]
        docs = spark.createDataFrame(rows, "id string, text string").select(
            "id",
            F.concat(F.lit("mem://"), F.col("id")).alias("url"),
            F.create_map(F.lit("k"), F.lit("v")).alias("metadata"),
            "text",
            F.lit("2024-03-01 00:00:00")
            .cast("timestamp")
            .alias("last_modified_at"),
            F.lit("test").alias("source_type"),
        )
        base = str(tmp_path_factory.mktemp("manifest_stats"))
        coll = Collection(spark, base, "mstats")
        create_collection(
            coll, docs, chunk_size=30, chunk_overlap=5, title_from_text=True
        )
        m = coll.manifest()

        # old definition, recomputed from the corpus
        field_aggs = []
        for name, col in field_text_exprs(None, True).items():
            fl = F.size(tokenize(col))
            field_aggs.append(F.count(F.when(fl > 0, True)).alias(f"_fn_{name}"))
            field_aggs.append(
                F.coalesce(F.sum(F.when(fl > 0, fl)), F.lit(0)).alias(
                    f"_fs_{name}"
                )
            )
        doc_row = docs.agg(*field_aggs).first()
        expected_fields = {
            name: {
                "docs": int(doc_row[f"_fn_{name}"]),
                "sumFl": int(doc_row[f"_fs_{name}"]),
            }
            for name in ("title", "body")
        }
        assert m.fieldStats == expected_fields
        assert expected_fields["body"]["docs"] == 3  # d0's body is empty

        chunks = coll.read("chunks")
        expected_avgdl = chunks.agg(
            F.avg(F.size(tokenize("indexed_data")))
        ).first()[0]
        assert m.avgChunkLength == expected_avgdl
        assert m.numberOfChunks == chunks.count()
        assert m.numberOfDocuments == 4

    def test_tables_and_manifest(self, collection):
        m = collection.manifest()
        assert m.numberOfDocuments == 100
        assert m.numberOfChunks > 100  # at least title chunk per doc + splits
        # default strategy: order-free hash ids (scale path); the counter
        # and its lastIndexItemId are the contiguous_ids=True opt-in
        assert m.converter["idStrategy"] == "hash"
        assert m.lastIndexItemId == -1
        assert m.lastModifiedDocumentTime.startswith("2024-03-01")
        for t in ("documents", "chunks", "embeddings", "postings", "doc_stats"):
            assert collection.read(t).count() > 0

    def test_hash_ids_unique_and_stable(self, collection):
        chunks = collection.read("chunks")
        n = chunks.count()
        assert chunks.select("chunk_id").distinct().count() == n

    def test_chunk_zero_is_title(self, collection):
        c0 = (
            collection.read("chunks")
            .filter((F.col("document_id") == "doc-0") & (F.col("chunk_number") == 0))
            .first()
        )
        assert c0.indexed_data == "doc-0"

    def test_embeddings_align_with_chunks(self, collection):
        n_chunks = collection.read("chunks").count()
        emb = collection.read("embeddings")
        assert emb.count() == n_chunks
        assert len(emb.first().vector) == 16


class TestSearch:
    def test_diverse_search_lambda_one_matches_plain_ranking(
        self, collection
    ):
        """MMR with lam=1 is pure relevance — over the SAME pool
        (pool_factor=1; a deeper pool legitimately changes RRF scores
        because per-branch top-k lists grow) search_chunks_diverse must
        reproduce search_chunks' chunk order exactly, so the
        diversified path provably shares the fused ranking."""
        s = CollectionSearcher(collection)
        plain = [
            (r.chunk_id, r.rank)
            for r in s.search_chunks("hash join vector", max_chunks=5)
            .orderBy("rank")
            .collect()
        ]
        diverse = [
            (r.chunk_id, r.rank)
            for r in s.search_chunks_diverse(
                "hash join vector", max_chunks=5, lam=1.0, pool_factor=1
            )
            .orderBy("rank")
            .collect()
        ]
        assert plain == diverse

    def test_diverse_search_groups_documents(self, collection):
        s = CollectionSearcher(collection)
        got = s.search(
            "hash join vector",
            max_chunks=10,
            max_documents=5,
            diversify_lambda=0.5,
        ).collect()
        assert 0 < len(got) <= 5
        ranks = [r.doc_rank for r in got]
        assert ranks == sorted(ranks)

    def test_hybrid_search_returns_ranked_docs(self, collection):
        s = CollectionSearcher(collection)
        got = s.search("hash join vector", max_chunks=15, max_documents=5).collect()
        assert 0 < len(got) <= 5
        ranks = [r.doc_rank for r in got]
        assert ranks == sorted(ranks)
        assert got[0].url.startswith("file:///corpus/")

    def test_bm25_scan_is_partition_pruned(self, collection):
        s = CollectionSearcher(collection)
        hits = s._bm25_hits("hash join", 10, None)
        plan = hits._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "term_bucket" in plan

    def test_hybrid_fusion_matches_rrf_operator(self, collection):
        """The searcher's single-window fused ranking must equal
        operators/rrf.py::rrf_fuse over the two per-index ranked lists
        — the fusion rewrite is a plan optimization, not a semantics
        change."""
        from documents_vector_search_spark.operators.rrf import rrf_fuse

        s = CollectionSearcher(collection)
        fused = s.search_chunks("hash join vector", max_chunks=15).collect()
        vec = s._vector_hits("hash join vector", 15, None)
        bm = s._bm25_hits("hash join vector", 15, None)
        expected = rrf_fuse(
            [vec.select("chunk_id", "rank"), bm.select("chunk_id", "rank")],
            k=15,
            rrf_k=s.rrf_k,
            id_col="chunk_id",
        ).collect()
        assert [(r.chunk_id, r.score) for r in fused] == [
            (r.chunk_id, r.rrf_score) for r in expected
        ]
        assert [r.rank for r in fused] == list(range(len(fused)))

    def test_batch_search_matches_per_query(self, collection):
        """search_chunks_many per-qid results == search_chunks per
        query — the batch path is a plan optimization (one scan per
        index), never a semantics change."""
        s = CollectionSearcher(collection)
        texts = {
            "a": "hash join vector",
            "b": "sort merge",
            "c": "window partition",
        }
        batch = s.search_chunks_many(texts, max_chunks=10).collect()
        by_qid: dict = {}
        for r in batch:
            by_qid.setdefault(r.qid, []).append((r.chunk_id, r.rank, r.score))
        for qid, text in texts.items():
            expected = [
                (r.chunk_id, r.rank, r.score)
                for r in s.search_chunks(text, max_chunks=10).collect()
            ]
            assert by_qid.get(qid, []) == expected, f"mismatch for {qid}"

    def test_batch_search_single_index_and_filter(self, collection):
        s = CollectionSearcher(collection)
        texts = {"a": "hash join", "b": "sort merge"}
        got = s.search_chunks_many(
            texts, max_chunks=5, indexes=("bm25",),
            metadata_filter='lang = "en"',
        ).collect()
        by_qid: dict = {}
        for r in got:
            by_qid.setdefault(r.qid, []).append((r.chunk_id, r.rank, r.score))
        for qid, text in texts.items():
            expected = [
                (r.chunk_id, r.rank, r.score)
                for r in s.search_chunks(
                    text, max_chunks=5, indexes=("bm25",),
                    metadata_filter='lang = "en"',
                ).collect()
            ]
            assert by_qid.get(qid, []) == expected, f"mismatch for {qid}"

    def test_batch_diverse_matches_per_query_diverse(self, collection):
        """search_chunks_many_diverse per-qid results ==
        search_chunks_diverse per query — the batched MMR shares the
        single-pool greedy (operators/mmr._mmr_greedy), so the batch
        path is amortization, never a semantics change."""
        s = CollectionSearcher(collection)
        texts = {
            "a": "hash join vector",
            "b": "sort merge",
            "c": "window partition",
        }
        batch = s.search_chunks_many_diverse(
            texts, max_chunks=5, lam=0.5
        ).collect()
        by_qid: dict = {}
        for r in batch:
            by_qid.setdefault(r.qid, []).append((r.chunk_id, r.rank, r.score))
        for qid in by_qid:
            by_qid[qid].sort(key=lambda t: t[1])
        for qid, text in texts.items():
            expected = [
                (r.chunk_id, r.rank, r.score)
                for r in s.search_chunks_diverse(
                    text, max_chunks=5, lam=0.5
                ).orderBy("rank").collect()
            ]
            assert by_qid.get(qid, []) == expected, f"mismatch for {qid}"

    def test_search_many_diverse_matches_per_query_diverse_search(
        self, collection
    ):
        s = CollectionSearcher(collection)
        texts = {"a": "hash join vector", "b": "sort merge"}
        got = s.search_many(
            texts, max_chunks=10, max_documents=5, diversify_lambda=0.5
        ).collect()
        assert len(got) > 0
        by_qid: dict = {}
        for r in got:
            by_qid.setdefault(r.qid, []).append(
                (r.document_id, r.doc_rank, tuple(r.matched_chunks),
                 r.best_score, r.n_chunks)
            )
        for qid, text in texts.items():
            expected = [
                (r.document_id, r.doc_rank, tuple(r.matched_chunks),
                 r.best_score, r.n_chunks)
                for r in s.search(
                    text, max_chunks=10, max_documents=5,
                    diversify_lambda=0.5,
                ).collect()
            ]
            assert by_qid.get(qid, []) == expected, f"mismatch for {qid}"

    def test_search_many_matches_per_query_search(self, collection):
        s = CollectionSearcher(collection)
        texts = {"a": "hash join vector", "b": "sort merge"}
        got = s.search_many(texts, max_chunks=10, max_documents=5).collect()
        by_qid: dict = {}
        for r in got:
            by_qid.setdefault(r.qid, []).append(
                (r.document_id, r.doc_rank, tuple(r.matched_chunks),
                 r.best_score, r.n_chunks)
            )
        for qid, text in texts.items():
            expected = [
                (r.document_id, r.doc_rank, tuple(r.matched_chunks),
                 r.best_score, r.n_chunks)
                for r in s.search(
                    text, max_chunks=10, max_documents=5
                ).collect()
            ]
            assert by_qid.get(qid, []) == expected, f"mismatch for {qid}"

    def test_single_index_skips_rrf(self, collection):
        s = CollectionSearcher(collection)
        vec_only = s.search_chunks("hash join", indexes=("vector",)).collect()
        assert len(vec_only) > 0
        bm_only = s.search_chunks("hash join", indexes=("bm25",)).collect()
        assert all(r.score > 0 for r in bm_only)

    def test_metadata_filter_restricts_results(self, collection, spark):
        s = CollectionSearcher(collection)
        hits = s.search(
            "hash join", max_chunks=20, metadata_filter='lang = "en"'
        ).collect()
        assert len(hits) > 0
        langs = {r.metadata["lang"] for r in hits}
        assert langs == {"en"}

    def test_filter_only_no_matches(self, collection):
        s = CollectionSearcher(collection)
        got = s.search("hash join", metadata_filter='lang = "xx"').collect()
        assert got == []

    def test_unknown_index_rejected(self, collection):
        s = CollectionSearcher(collection)
        with pytest.raises(ValueError, match="unknown indexes"):
            s.search_chunks("x", indexes=("hnsw",))

    def test_bad_rrf_k_rejected(self, collection):
        with pytest.raises(ValueError, match="rrf_k"):
            CollectionSearcher(collection, rrf_k=0)


class TestFetch:
    def test_fetch_slice(self, collection):
        got = fetch_document_lines(collection, "doc-3", 1, 5)
        assert got["id"] == "doc-3"
        assert got["total_lines"] >= 1

    def test_missing_raises(self, collection):
        with pytest.raises(DocumentNotFoundError):
            fetch_document_lines(collection, "doc-nope")


class TestUpdate:
    def test_delete_then_reinsert_invariants(self, spark, canonical_docs, tmp_path):
        # counter strategy (reference parity): ids continue from
        # lastIndexItemId and stale ids never reappear
        coll = Collection(spark, str(tmp_path), "upd")
        m0 = create_collection(
            coll, canonical_docs, chunk_size=200, chunk_overlap=40,
            contiguous_ids=True,
        )
        old_last = m0.lastIndexItemId
        old_chunk_ids = {
            r.chunk_id
            for r in coll.read("chunks")
            .filter(F.col("document_id").isin(["doc-1", "doc-2"]))
            .collect()
        }

        updates = canonical_docs.filter(F.col("id").isin(["doc-1", "doc-2"])).select(
            "id",
            "url",
            "metadata",
            F.concat(F.lit("fresh updated content about broadcast joins. "), "text").alias("text"),
            F.lit("2024-06-01 00:00:00").cast("timestamp").alias("last_modified_at"),
            "source_type",
        )
        m1 = update_collection(coll, updates)

        # counts: same docs, watermark advanced
        assert m1.numberOfDocuments == 100
        assert m1.lastModifiedDocumentTime.startswith("2024-06-01")

        chunks = coll.read("chunks")
        new_ids = {
            r.chunk_id
            for r in chunks.filter(
                F.col("document_id").isin(["doc-1", "doc-2"])
            ).collect()
        }
        # fresh ids continue from the previous counter (U3 invariant)
        assert min(new_ids) == old_last + 1
        assert m1.lastIndexItemId == max(new_ids)
        # stale chunk ids absent from every index table
        for t in ("chunks", "embeddings", "postings", "doc_stats"):
            remaining = (
                coll.read(t)
                .filter(F.col("chunk_id").isin(list(old_chunk_ids)))
                .count()
            )
            assert remaining == 0, t
        # updated text searchable
        s = CollectionSearcher(coll)
        got = s.search("broadcast joins", indexes=("bm25",)).collect()
        assert {r.document_id for r in got} <= {"doc-1", "doc-2"}
        assert len(got) > 0

    def test_hash_strategy_update_reuses_ids(
        self, spark, canonical_docs, collection, tmp_path
    ):
        # hash strategy (default): a replaced document's chunks keep
        # their deterministic ids, and every index stays consistent
        coll = _copy_collection(spark, collection, tmp_path, "updhash")
        old_ids = {
            r.chunk_id
            for r in coll.read("chunks")
            .filter(F.col("document_id") == "doc-1")
            .collect()
        }

        updates = canonical_docs.filter(F.col("id") == "doc-1").select(
            "id", "url", "metadata",
            # same text → same chunk boundaries → identical chunk ids
            "text",
            F.lit("2024-06-01 00:00:00").cast("timestamp").alias("last_modified_at"),
            "source_type",
        )
        m1 = update_collection(coll, updates)
        assert m1.converter["idStrategy"] == "hash"

        new_ids = {
            r.chunk_id
            for r in coll.read("chunks")
            .filter(F.col("document_id") == "doc-1")
            .collect()
        }
        assert new_ids == old_ids
        # no duplicated ids in any index after the merge
        for t in ("chunks", "embeddings", "postings"):
            df = coll.read(t)
            key = ["chunk_id", "term"] if t == "postings" else ["chunk_id"]
            assert df.count() == df.select(*key).distinct().count(), t

    def test_insert_only_batch_appends_new_docs(
        self, spark, canonical_docs, tmp_path
    ):
        # a batch of NEVER-SEEN doc ids must append (nothing to delete),
        # including creating _pb partition dirs that did not exist yet —
        # the small seed corpus leaves some of the 8 buckets empty
        coll = Collection(spark, str(tmp_path), "ins")
        seed = canonical_docs.limit(3)
        create_collection(coll, seed, chunk_size=200, chunk_overlap=40)
        n0 = coll.read("documents").count()

        fresh = canonical_docs.limit(20).withColumn(
            "id", F.concat(F.lit("brandnew-"), F.col("id"))
        ).withColumn(
            "text", F.concat(F.lit("entirely novel quasar corpus. "), F.col("text"))
        )
        n_new = fresh.count()
        m = update_collection(coll, fresh)

        assert coll.read("documents").count() == n0 + n_new
        assert m.numberOfDocuments == n0 + n_new
        # appended docs fully indexed and searchable
        chunk_ids = {r[0] for r in coll.read("chunks").select("chunk_id").collect()}
        emb_ids = {
            r[0] for r in coll.read("embeddings").select("chunk_id").collect()
        }
        assert emb_ids == chunk_ids
        s = CollectionSearcher(coll)
        got = s.search("novel quasar", indexes=("bm25",)).collect()
        assert got and all(r.document_id.startswith("brandnew-") for r in got)

    def test_unchanged_resend_is_idempotent(
        self, spark, canonical_docs, collection, tmp_path
    ):
        coll = _copy_collection(spark, collection, tmp_path, "idem")
        before_docs = coll.read("documents").count()
        before_chunks = coll.read("chunks").count()
        resend = canonical_docs.filter(F.col("id") == "doc-5")
        update_collection(coll, resend)
        assert coll.read("documents").count() == before_docs
        assert coll.read("chunks").count() == before_chunks
        # content unchanged → same number of chunks for the doc, new ids
        assert (
            coll.read("documents").filter(F.col("id") == "doc-5").count() == 1
        )


class TestAnnLayout:
    """Bucket-partitioned embeddings: vector search = partition pruning."""

    @pytest.fixture(scope="class")
    def ann_coll(self, spark, canonical_docs, tmp_path_factory):
        base = str(tmp_path_factory.mktemp("ann"))
        coll = Collection(spark, base, "annc")
        create_collection(
            coll, canonical_docs, chunk_size=200, chunk_overlap=40, ann_planes=3
        )
        return coll

    def test_layout_written_partitioned(self, ann_coll):
        m = ann_coll.manifest()
        assert m.converter["ann"] == {"nPlanes": 3, "seed": 42}
        emb = ann_coll.read("embeddings")
        assert "bucket" in emb.columns
        # every chunk present exactly once across buckets
        assert emb.count() == ann_coll.read("chunks").count()

    def test_search_prunes_partitions(self, ann_coll):
        s = CollectionSearcher(ann_coll, ann_probe_bits=1)
        hits = s._vector_hits("hash join", 10, None)
        plan = hits._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "bucket" in plan
        got = hits.collect()
        assert len(got) > 0

    def test_batch_search_one_pruned_scan_matches_per_query(
        self, ann_coll
    ):
        """On an ANN layout the batch vector path runs ONE scan of the
        union of the queries' probe buckets (knn_l2_batch_pruned), each
        query masked to its own probe set — results match search_chunks
        exactly and the plan is a single Arrow-batched scan, not a
        per-query union."""
        s = CollectionSearcher(ann_coll)
        texts = {"a": "hash join", "b": "sort merge"}
        batched = s.search_chunks_many(texts, max_chunks=5, indexes=("vector",))
        plan = batched._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan  # the one-scan batch scorer
        assert "PartitionFilters" in plan and "bucket" in plan
        got = batched.collect()
        by_qid: dict = {}
        for r in got:
            by_qid.setdefault(r.qid, []).append((r.chunk_id, r.rank, r.score))
        for qid, text in texts.items():
            expected = [
                (r.chunk_id, r.rank, r.score)
                for r in s.search_chunks(
                    text, max_chunks=5, indexes=("vector",)
                ).collect()
            ]
            assert by_qid.get(qid, []) == expected, f"mismatch for {qid}"
        # hybrid batch (vector + bm25 fusion) stays consistent too
        got_h = s.search_chunks_many(texts, max_chunks=5).collect()
        by_qid_h: dict = {}
        for r in got_h:
            by_qid_h.setdefault(r.qid, []).append(
                (r.chunk_id, r.rank, r.score)
            )
        for qid, text in texts.items():
            expected = [
                (r.chunk_id, r.rank, r.score)
                for r in s.search_chunks(text, max_chunks=5).collect()
            ]
            assert by_qid_h.get(qid, []) == expected, f"hybrid {qid}"

    def test_hybrid_search_still_works(self, ann_coll):
        s = CollectionSearcher(ann_coll)
        got = s.search("hash join vector", max_documents=5).collect()
        assert 0 < len(got) <= 5

    def test_ann_plus_ivf_manifest_refused_in_batch_serving(self, ann_coll):
        """create_collection rejects ann_planes+ivf_nlist, so the only
        way to reach an ann+ivf searcher is a hand-built manifest; the
        batch path refuses it loudly instead of silently serving an
        untested composition (the former defensive per-query fallback
        loop was unreachable dead code and is gone)."""
        import pytest

        s = CollectionSearcher(ann_coll)
        s._ivf_cfg = {"nlist": 8, "nprobe": 2}  # simulate hand-built manifest
        with pytest.raises(ValueError, match="both ann and ivf"):
            s.search_chunks_many(
                {"a": "hash join"}, max_chunks=5, indexes=("vector",)
            )

    def test_update_preserves_layout(self, spark, canonical_docs, ann_coll):
        updates = canonical_docs.filter(F.col("id") == "doc-2").select(
            "id", "url", "metadata",
            F.concat(F.lit("totally new ann text. "), "text").alias("text"),
            F.lit("2024-07-01 00:00:00").cast("timestamp").alias("last_modified_at"),
            "source_type",
        )
        update_collection(ann_coll, updates)
        emb = ann_coll.read("embeddings")
        assert "bucket" in emb.columns
        assert emb.count() == ann_coll.read("chunks").count()
        s = CollectionSearcher(ann_coll)
        assert len(s.search("hash join", max_documents=5).collect()) > 0


class TestIvfLayout:
    """Centroid-partitioned embeddings: vector search prunes to the
    nprobe nearest clusters; centroids live in the manifest so updates
    reproduce the exact assignment without a serialized model."""

    @pytest.fixture(scope="class")
    def ivf_coll(self, spark, canonical_docs, tmp_path_factory):
        base = str(tmp_path_factory.mktemp("ivf"))
        coll = Collection(spark, base, "ivfc")
        create_collection(
            coll, canonical_docs, chunk_size=200, chunk_overlap=40, ivf_nlist=4
        )
        return coll

    def test_layout_written_partitioned(self, ivf_coll):
        cfg = ivf_coll.manifest().converter["ivf"]
        assert cfg["nList"] == 4 and cfg["nProbe"] == 2
        assert len(cfg["centroids"]) == 4
        assert all(len(c) == 16 for c in cfg["centroids"])
        emb = ivf_coll.read("embeddings")
        assert "cluster_id" in emb.columns
        assert emb.count() == ivf_coll.read("chunks").count()

    def test_search_prunes_partitions(self, ivf_coll):
        s = CollectionSearcher(ivf_coll)
        hits = s._vector_hits("hash join", 10, None)
        plan = hits._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "cluster_id" in plan
        got = hits.collect()
        assert len(got) > 0

    def test_batch_search_one_pruned_scan_matches_per_query(
        self, ivf_coll
    ):
        """IVF twin of the ANN-layout batch contract: one union-pruned
        scan on cluster_id, per-query probe masks, exact parity with
        search_chunks."""
        s = CollectionSearcher(ivf_coll)
        texts = {"a": "hash join", "b": "sort merge", "c": "table window"}
        batched = s.search_chunks_many(texts, max_chunks=5, indexes=("vector",))
        plan = batched._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan
        assert "PartitionFilters" in plan and "cluster_id" in plan
        by_qid: dict = {}
        for r in batched.collect():
            by_qid.setdefault(r.qid, []).append((r.chunk_id, r.rank, r.score))
        for qid, text in texts.items():
            expected = [
                (r.chunk_id, r.rank, r.score)
                for r in s.search_chunks(
                    text, max_chunks=5, indexes=("vector",)
                ).collect()
            ]
            assert by_qid.get(qid, []) == expected, f"mismatch for {qid}"

    def test_batch_search_with_metadata_filter_matches(self, ivf_coll):
        """The allowed-chunks filter composes with the union-probe batch
        path identically to the per-query path."""
        s = CollectionSearcher(ivf_coll)
        texts = {"a": "hash join", "b": "sort merge"}
        flt = 'lang = "en"'
        by_qid: dict = {}
        for r in s.search_chunks_many(
            texts, max_chunks=5, indexes=("vector",), metadata_filter=flt
        ).collect():
            by_qid.setdefault(r.qid, []).append((r.chunk_id, r.rank, r.score))
        for qid, text in texts.items():
            expected = [
                (r.chunk_id, r.rank, r.score)
                for r in s.search_chunks(
                    text, max_chunks=5, indexes=("vector",),
                    metadata_filter=flt,
                ).collect()
            ]
            assert by_qid.get(qid, []) == expected, f"mismatch for {qid}"

    def test_probe_matches_fixed_centroid_search(self, ivf_coll):
        """Searcher hits == ivf_search_l2_fixed over the flat vectors
        with the manifest centroids (same rounding, same tie-break)."""
        from documents_vector_search_spark.operators.embedding import (
            hash_embedding_py,
        )
        from documents_vector_search_spark.operators.ivf import (
            ivf_search_l2_fixed,
        )

        cfg = ivf_coll.manifest().converter["ivf"]
        qv = hash_embedding_py("hash join", 16)
        expected = ivf_search_l2_fixed(
            ivf_coll.read("embeddings").select("chunk_id", "vector"),
            cfg["centroids"],
            qv,
            k=10,
            nprobe=cfg["nProbe"],
            id_col="chunk_id",
            vector_col="vector",
        ).collect()
        s = CollectionSearcher(ivf_coll)
        got = s._vector_hits("hash join", 10, None).collect()
        assert [r.chunk_id for r in got] == [r.chunk_id for r in expected]

    def test_update_preserves_layout(self, spark, canonical_docs, ivf_coll):
        updates = canonical_docs.filter(F.col("id") == "doc-3").select(
            "id", "url", "metadata",
            F.concat(F.lit("totally new ivf text. "), "text").alias("text"),
            F.lit("2024-08-01 00:00:00").cast("timestamp").alias("last_modified_at"),
            "source_type",
        )
        update_collection(ivf_coll, updates)
        emb = ivf_coll.read("embeddings")
        assert "cluster_id" in emb.columns
        assert emb.count() == ivf_coll.read("chunks").count()
        # assignment still derives from the manifest centroids: no row
        # may sit in a partition other than its nearest rounded centroid
        from documents_vector_search_spark.operators.ivf import (
            assign_cluster_expr,
        )

        cfg = ivf_coll.manifest().converter["ivf"]
        mismatches = emb.filter(
            F.col("cluster_id")
            != assign_cluster_expr(
                F.col("vector").cast("array<double>"), cfg["centroids"]
            )
        ).count()
        assert mismatches == 0
        s = CollectionSearcher(ivf_coll)
        assert len(s.search("hash join", max_documents=5).collect()) > 0

    def test_ann_and_ivf_mutually_exclusive(self, spark, canonical_docs, tmp_path):
        coll = Collection(spark, str(tmp_path), "bad")
        with pytest.raises(ValueError, match="mutually exclusive"):
            create_collection(coll, canonical_docs, ann_planes=3, ivf_nlist=4)

    def test_pq_requires_ivf(self, spark, canonical_docs, tmp_path):
        coll = Collection(spark, str(tmp_path), "bad2")
        with pytest.raises(ValueError, match="requires ivf_nlist"):
            create_collection(coll, canonical_docs, pq_m=4)


class TestIvfPqLayout:
    """IVFPQ composition: partition pruning (coarse quantizer) + ADC
    shortlist over the codes column + exact re-rank."""

    @pytest.fixture(scope="class")
    def ivfpq_coll(self, spark, canonical_docs, tmp_path_factory):
        base = str(tmp_path_factory.mktemp("ivfpq"))
        coll = Collection(spark, base, "ivfpq")
        create_collection(
            coll, canonical_docs, chunk_size=200, chunk_overlap=40,
            ivf_nlist=4, pq_m=4, pq_ksub=8,
        )
        return coll

    def test_layout_has_codes_and_codebooks(self, ivfpq_coll):
        cfg = ivfpq_coll.manifest().converter["ivf"]
        pq = cfg["pq"]
        assert pq["m"] == 4 and pq["kSub"] == 8
        assert len(pq["codebooks"]) == 4
        assert all(len(cb) == 8 for cb in pq["codebooks"])
        emb = ivfpq_coll.read("embeddings")
        assert {"chunk_id", "vector", "cluster_id", "codes"} <= set(emb.columns)
        r = emb.first()
        assert len(r.codes) == 4 and all(0 <= c < 8 for c in r.codes)

    def test_search_prunes_and_reranks_exact(self, ivfpq_coll):
        """The shortlist-then-rerank result must equal exact kNN over
        the ADC shortlist — re-ranking is true-vector L2, not ADC."""
        s = CollectionSearcher(ivfpq_coll)
        hits = s._vector_hits("hash join", 10, None)
        plan = hits._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "cluster_id" in plan
        got = hits.collect()
        assert 0 < len(got) <= 10
        ranks = [r.rank for r in got]
        assert ranks == sorted(ranks)

    def test_batch_search_matches_per_query_on_quantized_layout(
        self, ivfpq_coll
    ):
        """IVFPQ batch serving runs in the compressed domain (one
        codes scan → per-query ADC shortlists from the SAME rounded
        LUTs as the per-query plan → one exact re-rank pass) — results
        must equal search_chunks exactly, and the plan must be the
        Arrow-batched shape, not a per-query union."""
        s = CollectionSearcher(ivfpq_coll)
        texts = {"a": "hash join", "b": "sort merge", "c": "table window"}
        batched = s.search_chunks_many(texts, max_chunks=5, indexes=("vector",))
        plan = batched._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan  # ADC shortlist + grouped re-rank
        assert "PartitionFilters" in plan and "cluster_id" in plan
        by_qid: dict = {}
        for r in batched.collect():
            by_qid.setdefault(r.qid, []).append((r.chunk_id, r.rank, r.score))
        for qid, text in texts.items():
            expected = [
                (r.chunk_id, r.rank, r.score)
                for r in s.search_chunks(
                    text, max_chunks=5, indexes=("vector",)
                ).collect()
            ]
            assert by_qid.get(qid, []) == expected, f"mismatch for {qid}"

    def test_update_preserves_codes(self, spark, canonical_docs, ivfpq_coll):
        updates = canonical_docs.filter(F.col("id") == "doc-7").select(
            "id", "url", "metadata",
            F.concat(F.lit("fresh ivfpq text. "), "text").alias("text"),
            F.lit("2024-09-01 00:00:00").cast("timestamp").alias("last_modified_at"),
            "source_type",
        )
        update_collection(ivfpq_coll, updates)
        emb = ivfpq_coll.read("embeddings")
        assert "codes" in emb.columns
        assert emb.count() == ivfpq_coll.read("chunks").count()
        assert emb.filter(F.col("codes").isNull()).count() == 0
        s = CollectionSearcher(ivfpq_coll)
        assert len(s.search("hash join", max_documents=5).collect()) > 0


class TestSq8Layout:
    @pytest.fixture(scope="class")
    def sq8_coll(self, spark, canonical_docs, tmp_path_factory):
        base = str(tmp_path_factory.mktemp("sq8"))
        coll = Collection(spark, base, "sq8c")
        create_collection(
            coll, canonical_docs, chunk_size=200, chunk_overlap=40, sq8=True
        )
        return coll

    def test_layout_has_codes_and_bounds(self, sq8_coll):
        cfg = sq8_coll.manifest().converter["sq8"]
        assert len(cfg["mins"]) == 16 and len(cfg["maxs"]) == 16
        assert all(mn <= mx for mn, mx in zip(cfg["mins"], cfg["maxs"]))
        emb = sq8_coll.read("embeddings")
        assert "codes" in emb.columns
        assert emb.count() == sq8_coll.read("chunks").count()
        rng = emb.select(
            F.min(F.array_min("codes")).alias("lo"),
            F.max(F.array_max("codes")).alias("hi"),
        ).first()
        assert 0 <= rng["lo"] and rng["hi"] <= 255

    def test_wide_shortlist_equals_exact_search(self, sq8_coll):
        """With a shortlist covering the whole corpus the SQ8 searcher
        must return exactly the flat exact-kNN ranking — quantization
        affects only the SHORTLIST, never re-ranked distances."""
        from documents_vector_search_spark.operators.knn import knn_l2
        from documents_vector_search_spark.operators.embedding import (
            hash_embedding_py,
        )

        s = CollectionSearcher(sq8_coll, sq8_shortlist_factor=100000)
        got = s._vector_hits("hash join", 10, None).collect()
        qv = hash_embedding_py("hash join", 16)
        exact = knn_l2(
            sq8_coll.read("embeddings").select("chunk_id", "vector"),
            qv, 10, id_col="chunk_id", vector_col="vector",
        ).collect()
        assert [r.chunk_id for r in got] == [r.chunk_id for r in exact]

    def test_default_shortlist_search_works(self, sq8_coll):
        s = CollectionSearcher(sq8_coll)
        got = s.search("hash join vector", max_documents=5).collect()
        assert 0 < len(got) <= 5

    def test_update_reencodes_with_manifest_bounds(
        self, spark, canonical_docs, sq8_coll
    ):
        updates = canonical_docs.filter(F.col("id") == "doc-7").select(
            "id", "url", "metadata",
            F.concat(F.lit("fresh sq8 text. "), "text").alias("text"),
            "last_modified_at",
            "source_type",
        )
        update_collection(sq8_coll, updates)
        emb = sq8_coll.read("embeddings")
        assert emb.count() == sq8_coll.read("chunks").count()
        assert emb.filter(F.col("codes").isNull()).count() == 0
        s = CollectionSearcher(sq8_coll)
        assert len(s.search("hash join", max_documents=5).collect()) > 0

    def test_sq8_pq_mutually_exclusive(self, spark, canonical_docs, tmp_path):
        coll = Collection(spark, str(tmp_path), "bad")
        with pytest.raises(ValueError, match="mutually exclusive"):
            create_collection(
                coll, canonical_docs, sq8=True, ivf_nlist=4, pq_m=4
            )


class TestDeleteDocuments:
    """collection/updater.py::delete_documents — right-to-be-forgotten:
    every derived row of a deleted document must vanish from every
    table, at O(affected buckets) cost."""

    @pytest.fixture()
    def coll(self, spark, collection, tmp_path):
        # a copy of the module's 100-document collection: same create
        # arguments, without paying a create per test
        return _copy_collection(spark, collection, tmp_path, "del")

    def test_rows_vanish_from_every_table(self, spark, coll):
        from pathlib import Path

        from documents_vector_search_spark.collection import (
            delete_documents,
        )

        before = coll.counts()
        victim_chunks = {
            r.chunk_id
            for r in coll.read("chunks")
            .filter(F.col("document_id").isin("doc-3", "doc-7"))
            .collect()
        }
        assert victim_chunks
        # file inventory of an UNAFFECTED bucket must stay bit-identical
        from documents_vector_search_spark.functions.hashing import (
            md5_hash64_py,
        )

        # the unknown id's bucket is also swapped (its rows are simply
        # identical), so exclude it from the untouched-bucket probe too
        touched = {
            md5_hash64_py(d) % 8
            for d in ("doc-3", "doc-7", "doc-never-existed")
        }
        untouched = next(b for b in range(8) if b not in touched)
        doc_root = Path(coll.table_path("documents"))
        inv_before = sorted(
            (str(p), p.stat().st_mtime_ns)
            for p in (doc_root / f"_pb={untouched}").rglob("*.parquet")
        )

        m = delete_documents(coll, ["doc-3", "doc-7", "doc-never-existed"])
        after = coll.counts()
        assert after["documents"] == before["documents"] - 2
        assert m.numberOfDocuments == after["documents"]
        assert m.numberOfChunks == after["chunks"]
        for t in ("chunks", "embeddings", "postings", "doc_stats"):
            assert after[t] < before[t]
        # no orphaned derived rows anywhere
        assert coll.read("documents").filter(
            F.col("id").isin("doc-3", "doc-7")
        ).count() == 0
        for t in ("embeddings", "postings", "doc_stats"):
            present = {r.chunk_id for r in coll.read(t).select("chunk_id").collect()}
            assert not (present & victim_chunks)
        # untouched bucket bit-identical (partition-scoped rewrite)
        inv_after = sorted(
            (str(p), p.stat().st_mtime_ns)
            for p in (doc_root / f"_pb={untouched}").rglob("*.parquet")
        )
        assert inv_before == inv_after
        # deleted content is unsearchable; the collection still serves
        s = CollectionSearcher(coll)
        hits = s.search("hash join", max_documents=10).collect()
        assert all(r.document_id not in {"doc-3", "doc-7"} for r in hits)

    def test_unknown_ids_are_noop(self, spark, coll):
        from documents_vector_search_spark.collection import (
            delete_documents,
        )

        before = coll.counts()
        m = delete_documents(coll, ["ghost-1", "ghost-2"])
        assert coll.counts() == before
        assert m.numberOfDocuments == before["documents"]

    def test_crashed_delete_converges_on_rerun(
        self, spark, coll, monkeypatch
    ):
        """A delete that dies after committing the derived tables and
        chunks but BEFORE the documents swap must finish on re-run:
        tables swap derived-first and the proceed decision reads the
        documents table, so the interrupted state re-enters; manifest
        counts recompute exactly."""
        from documents_vector_search_spark.collection import (
            delete_documents,
        )
        from documents_vector_search_spark.collection import updater as upd

        real_swap = upd._swap_partitions

        def dying_swap(
            collection, merged, partition_cols, affected_pbs, **kwargs
        ):
            partial = {t: df for t, df in merged.items() if t != "documents"}
            real_swap(
                collection, partial,
                {t: partition_cols[t] for t in partial},
                {t: affected_pbs[t] for t in partial},
                **kwargs,
            )
            raise RuntimeError("simulated crash before the documents swap")

        monkeypatch.setattr(upd, "_swap_partitions", dying_swap)
        with pytest.raises(RuntimeError, match="simulated crash"):
            delete_documents(coll, ["doc-2"])
        monkeypatch.setattr(upd, "_swap_partitions", real_swap)

        # partial state: document row still present, chunks gone
        assert coll.read("documents").filter(F.col("id") == "doc-2").count() == 1
        assert coll.read("chunks").filter(
            F.col("document_id") == "doc-2"
        ).count() == 0

        m = delete_documents(coll, ["doc-2"])
        assert coll.read("documents").filter(F.col("id") == "doc-2").count() == 0
        after = coll.counts()
        assert m.numberOfDocuments == after["documents"]
        assert m.numberOfChunks == after["chunks"]
        assert after["chunks"] == after["embeddings"] == after["doc_stats"]

    def test_crash_after_final_swap_recounts_on_rerun(
        self, spark, coll, monkeypatch
    ):
        """A delete that dies AFTER the documents swap commits but
        BEFORE save_manifest leaves a stale manifest (overcounted
        numberOfDocuments/Chunks; avgChunkLength feeds BM25 avgdl). The
        re-run's no-op path must detect the document-count mismatch and
        recount instead of trusting the stale manifest forever."""
        from documents_vector_search_spark.collection import (
            delete_documents,
        )

        before = coll.manifest().numberOfDocuments

        real_save = coll.save_manifest

        def dying_save(manifest):
            # the save that records the in-flight batch (before the
            # first swap) goes through; the final save dies
            if getattr(manifest, "inFlight", None) is not None:
                return real_save(manifest)
            raise RuntimeError("simulated crash before save_manifest")

        monkeypatch.setattr(coll, "save_manifest", dying_save)
        with pytest.raises(RuntimeError, match="simulated crash"):
            delete_documents(coll, ["doc-4"])
        monkeypatch.setattr(coll, "save_manifest", real_save)

        # all table swaps committed, manifest stale
        assert coll.read("documents").filter(F.col("id") == "doc-4").count() == 0
        assert coll.manifest().numberOfDocuments == before

        m = delete_documents(coll, ["doc-4"])
        after = coll.counts()
        assert m.numberOfDocuments == after["documents"] == before - 1
        assert m.numberOfChunks == after["chunks"]
        assert coll.manifest().numberOfDocuments == before - 1

    def test_cached_searcher_refresh_after_delete(self, spark, coll):
        """A serving-process searcher (cache_tables=True) must expose a
        refresh path: after a delete its cached frames are stale (and
        their pinned file lists point at swapped-away parquet)."""
        from documents_vector_search_spark.collection import (
            delete_documents,
        )

        s = CollectionSearcher(coll, cache_tables=True)
        warm = s.search("hash join", max_documents=10).collect()
        assert len(warm) > 0
        victim = warm[0].document_id
        delete_documents(coll, [victim])
        s.refresh()
        got = s.search("hash join", max_documents=10).collect()
        assert all(r.document_id != victim for r in got)

    def test_fetch_after_delete_raises(self, spark, coll):
        from documents_vector_search_spark.collection import (
            delete_documents,
            fetch_document_lines,
        )

        delete_documents(coll, ["doc-5"])
        with pytest.raises(DocumentNotFoundError):
            fetch_document_lines(coll, "doc-5")


class TestEmptyInputs:
    def test_empty_create_raises_clearly(self, spark, canonical_docs, tmp_path):
        """An empty source must fail with a clear message (and leave no
        half-written collection behind), not die later on parquet
        schema inference."""
        coll = Collection(spark, str(tmp_path), "empty")
        with pytest.raises(ValueError, match="zero documents"):
            create_collection(coll, canonical_docs.filter(F.lit(False)))
        assert not coll.exists()

    def test_empty_update_batch_is_noop(
        self, spark, canonical_docs, collection, tmp_path
    ):
        """A daily pipeline hits zero-change batches routinely — the
        update must be a no-op that keeps every table and the manifest
        intact."""
        coll = _copy_collection(spark, collection, tmp_path, "noopup")
        before = coll.counts()
        update_collection(coll, canonical_docs.filter(F.lit(False)))
        assert coll.counts() == before
        s = CollectionSearcher(coll)
        assert len(s.search("hash join", max_documents=3).collect()) > 0


class TestSq8Refit:
    """collection/refit.py: the explicit maintenance op for quantizer
    drift — updates clamp against the fitted bounds by design, refit is
    how a deployment restores resolution after the distribution moves."""

    @staticmethod
    def _len_embedder(col):
        # deterministic embedder whose range DRIFTS with content: the
        # 'Z' count per chunk. Corpus chunks have near-zero Zs; the
        # drift update injects chunks that are ALL Zs, provably moving
        # every per-dimension max (text length can't do this — chunking
        # caps chunk length at chunk_size regardless of document size)
        zs = F.length(F.regexp_replace(col, "[^Z]", ""))
        return F.array(*[(zs * (i + 1)).cast("double") for i in range(4)])

    @pytest.fixture(scope="class")
    def pristine_drift(self, spark, canonical_docs, tmp_path_factory):
        coll = Collection(
            spark, str(tmp_path_factory.mktemp("sq8drift")), "sq8drift"
        )
        create_collection(
            coll, canonical_docs, chunk_size=200, chunk_overlap=40,
            sq8=True, embedder=self._len_embedder, embedding_dim=4,
        )
        return coll

    @pytest.fixture()
    def drifting_coll(self, spark, pristine_drift, tmp_path):
        """A fresh copy per test: the refits rewrite the tables."""
        return _copy_collection(spark, pristine_drift, tmp_path, "sq8drift")

    def test_refit_without_drift_is_noop(self, drifting_coll):
        from documents_vector_search_spark.collection import refit_sq8

        inventory_before = sorted(
            str(p)
            for p in __import__("pathlib").Path(
                drifting_coll.table_path("embeddings")
            ).rglob("*.parquet")
        )
        report = refit_sq8(drifting_coll)
        assert report == {"refit": False, "dims_drifted": 0}
        inventory_after = sorted(
            str(p)
            for p in __import__("pathlib").Path(
                drifting_coll.table_path("embeddings")
            ).rglob("*.parquet")
        )
        assert inventory_before == inventory_after

    def test_refit_after_drift_restores_code_span(self, drifting_coll):
        from documents_vector_search_spark.collection import refit_sq8
        from documents_vector_search_spark.operators.sq import fit_sq_bounds

        # an update with a far longer document: its vectors CLAMP under
        # the create-time bounds (documented update semantics)
        long_doc = drifting_coll.read("documents").filter(
            F.col("id") == "doc-1"
        ).select(
            "id", "url", "metadata",
            F.concat(F.lit("Z" * 5000), F.col("text")).alias("text"),
            "last_modified_at", "source_type",
        )
        update_collection(
            drifting_coll, long_doc, embedder=self._len_embedder,
            embedding_dim=4,
        )
        old_bounds = drifting_coll.manifest().converter["sq8"]

        report = refit_sq8(drifting_coll)
        assert report["refit"] is True
        assert report["dims_drifted"] > 0

        emb = drifting_coll.read("embeddings")
        new_cfg = drifting_coll.manifest().converter["sq8"]
        assert new_cfg != old_bounds
        # manifest bounds must equal a fresh fit of the CURRENT corpus
        mins, maxs = fit_sq_bounds(emb, 4, vector_col="vector")
        assert new_cfg["mins"] == mins and new_cfg["maxs"] == maxs
        # post-refit codes span the full 8-bit range per non-degenerate
        # dimension (the corpus min encodes 0, the max encodes 255)
        for i in range(4):
            if mins[i] == maxs[i]:
                continue
            span = emb.select(
                F.min(F.element_at("codes", i + 1)).alias("lo"),
                F.max(F.element_at("codes", i + 1)).alias("hi"),
            ).first()
            assert span["lo"] == 0 and span["hi"] == 255
        # partition scheme survives the rewrite
        assert "_pb" in emb.columns
        # idempotence: a second refit sees no drift
        assert refit_sq8(drifting_coll) == {"refit": False, "dims_drifted": 0}

    def test_refit_requires_sq8_layout(self, collection):
        from documents_vector_search_spark.collection import refit_sq8

        with pytest.raises(ValueError, match="no SQ8 layout"):
            refit_sq8(collection)


class TestIvfRefit:
    """collection/refit.py::refit_ivf — coarse-quantizer drift
    maintenance: updates pin to create-time centroids by design; the
    refit restores cluster/data fit and re-partitions the layout."""

    def test_refit_after_update_repartitions_consistently(
        self, spark, canonical_docs, tmp_path
    ):
        from documents_vector_search_spark.collection import refit_ivf
        from documents_vector_search_spark.operators.ivf import (
            assign_cluster_auto,
        )

        coll = Collection(spark, str(tmp_path), "ivfrefit")
        create_collection(
            coll, canonical_docs, chunk_size=200, chunk_overlap=40,
            ivf_nlist=2,
        )
        old_cents = coll.manifest().converter["ivf"]["centroids"]

        # unchanged corpus → deterministic sample fit → no drift
        assert refit_ivf(coll) == {"refit": False, "pq_refit": False}

        updates = canonical_docs.filter(F.col("id") == "doc-3").select(
            "id", "url", "metadata",
            F.concat(F.lit("entirely new drifted content. "), "text").alias(
                "text"
            ),
            "last_modified_at", "source_type",
        )
        update_collection(coll, updates)
        report = refit_ivf(coll)
        assert report == {"refit": True, "pq_refit": False}

        new_cents = coll.manifest().converter["ivf"]["centroids"]
        assert new_cents != old_cents
        # every stored cluster_id must equal assignment under the NEW
        # manifest centroids — searcher probes stay partition-consistent
        emb = coll.read("embeddings")
        mismatch = emb.withColumn(
            "_expect",
            assign_cluster_auto(
                F.col("vector").cast("array<double>"), new_cents
            ),
        ).filter(F.col("cluster_id") != F.col("_expect"))
        assert mismatch.count() == 0
        # layout still partitioned by cluster_id (directory level)
        root = __import__("pathlib").Path(coll.table_path("embeddings"))
        assert any(p.name.startswith("cluster_id=") for p in root.iterdir())
        # search over the refit layout still serves
        s = CollectionSearcher(coll)
        assert len(s.search("hash join", max_documents=5).collect()) > 0

    def test_refit_requires_ivf_layout(self, collection):
        from documents_vector_search_spark.collection import refit_ivf

        with pytest.raises(ValueError, match="no IVF layout"):
            refit_ivf(collection)


class TestTopicRefit:
    """collection/refit.py::refit_topics — topic-analytics drift
    maintenance, mirroring TestIvfRefit: the `topics` command records
    its fit in the manifest; updates never touch it; the refit detects
    drift and rebuilds the stored profile/terms via the staged swap."""

    def test_refit_after_update_rebuilds_profile_and_terms(
        self, spark, canonical_docs, collection, tmp_path
    ):
        from documents_vector_search_spark import cli
        from documents_vector_search_spark.collection import refit_topics

        coll = _copy_collection(spark, collection, tmp_path, "topicrefit")
        # before any topics run there is nothing to refit
        with pytest.raises(ValueError, match="no fitted topics"):
            refit_topics(coll)

        rc = cli.main(
            ["topics", "topicrefit", "--base-path", str(tmp_path),
             "--nlist", "2", "--terms-k", "2", "--format", "json"]
        )
        assert rc == 0
        old_cents = coll.manifest().converter["topics"]["centroids"]

        # unchanged corpus → deterministic sample fit → no drift
        assert refit_topics(coll) == {"refit": False, "terms_refit": False}

        updates = canonical_docs.filter(F.col("id") == "doc-3").select(
            "id", "url", "metadata",
            F.concat(
                F.lit("entirely new drifted content. "), "text"
            ).alias("text"),
            "last_modified_at", "source_type",
        )
        update_collection(coll, updates)
        assert refit_topics(coll) == {"refit": True, "terms_refit": True}

        cfg = coll.manifest().converter["topics"]
        assert cfg["centroids"] != old_cents
        # rebuilt profile covers exactly the current embeddings
        prof = coll.read("topic_profile").collect()
        assert sum(r.n_docs for r in prof) == coll.read("embeddings").count()
        assert abs(sum(r.share for r in prof) - 1.0) < 1e-4
        terms = coll.read("topic_terms").collect()
        assert len(terms) > 0
        assert all(0 <= r.rank < 2 for r in terms)

    def test_refit_requires_topics_fit(self, collection):
        from documents_vector_search_spark.collection import refit_topics

        with pytest.raises(ValueError, match="no fitted topics"):
            refit_topics(collection)


class TestContentFlagsAndCounts:
    def test_include_chunk_and_document_text(self, collection):
        from documents_vector_search_spark.collection import CollectionSearcher

        s = CollectionSearcher(collection)
        got = s.search(
            "hash join",
            max_documents=3,
            include_chunk_text=True,
            include_document_text=True,
        ).collect()
        assert len(got) > 0
        r = got[0]
        assert len(r.matched_chunk_texts) == len(r.matched_chunks)
        assert isinstance(r.document_text, str) and len(r.document_text) > 0

    def test_counts(self, collection):
        counts = collection.counts()
        assert counts["documents"] == 100
        assert counts["chunks"] == counts["embeddings"] == counts["doc_stats"]
        assert counts["postings"] > counts["chunks"]


class TestManifestCorpusStats:
    def test_old_manifest_without_avgdl_falls_back(
        self, spark, collection, tmp_path
    ):
        """Manifests written before avgChunkLength existed load as None
        and the searcher recomputes stats from doc_stats."""
        import json
        from pathlib import Path

        coll = _copy_collection(spark, collection, tmp_path, "oldmanifest")
        mpath = Path(str(tmp_path)) / "oldmanifest" / "manifest.json"
        data = json.loads(mpath.read_text())
        persisted_avgdl = data.pop("avgChunkLength")
        assert persisted_avgdl is not None and persisted_avgdl > 0
        mpath.write_text(json.dumps(data))

        s = CollectionSearcher(coll)
        n, avgdl = s._bm25_corpus_stats()
        assert n == data["numberOfChunks"]
        # fallback recomputes the SAME value the manifest would carry
        assert abs(avgdl - persisted_avgdl) < 1e-9
        assert len(s.search("hash join", max_documents=5).collect()) > 0


class TestEmbeddingIdentity:
    """converter.embedding: dim + embedder tag persisted at create,
    validated by searcher and updater (a mismatch silently reconstructs
    different hyperplanes / probes wrong buckets otherwise)."""

    @pytest.fixture(scope="class")
    def dim8_coll(self, spark, canonical_docs, tmp_path_factory):
        base = str(tmp_path_factory.mktemp("emb_identity"))
        coll = Collection(spark, base, "dim8")
        create_collection(
            coll, canonical_docs.limit(20), chunk_size=200, chunk_overlap=40,
            embedding_dim=8,
        )
        return coll

    def test_manifest_records_embedding(self, dim8_coll):
        cfg = dim8_coll.manifest().converter["embedding"]
        assert cfg == {"dim": 8, "embedder": "hash"}

    def test_searcher_resolves_dim_from_manifest(self, dim8_coll):
        s = CollectionSearcher(dim8_coll)
        assert s.embedding_dim == 8
        assert len(s.search("hash join", max_documents=3).collect()) >= 0

    def test_searcher_dim_mismatch_raises(self, dim8_coll):
        s = CollectionSearcher(dim8_coll, embedding_dim=16)
        with pytest.raises(ValueError, match="recorded dim=8"):
            _ = s.embedding_dim

    def test_update_dim_mismatch_raises(self, dim8_coll, canonical_docs):
        with pytest.raises(ValueError, match="recorded dim=8"):
            update_collection(
                dim8_coll, canonical_docs.limit(1), embedding_dim=16
            )

    def test_update_embedder_mismatch_raises(self, dim8_coll, canonical_docs):
        from documents_vector_search_spark.collection.creator import (
            default_embedder,
        )

        with pytest.raises(ValueError, match="recorded embedder 'hash'"):
            update_collection(
                dim8_coll,
                canonical_docs.limit(1),
                embedder=default_embedder(8),
                embedder_tag="my-model-v2",
            )

    def test_update_matching_identity_succeeds(self, dim8_coll, canonical_docs):
        m = update_collection(dim8_coll, canonical_docs.limit(1))
        assert m.numberOfDocuments == 20


class TestMaterializeBeforeFit:
    def test_one_encode_per_chunk_on_ivfpq_create(
        self, spark, canonical_docs, tmp_path
    ):
        """The embedder must run ONCE per chunk even when the layout
        needs iterative fits (KMeans maxIter jobs + PQ subspace fits +
        the final partitioned write): embeddings are materialized to
        parquet first, and every fit reads the materialized table. With
        a real model the difference is dozens of full corpus encodes."""
        calls = spark.sparkContext.accumulator(0)

        @F.udf("array<float>")
        def counting_embed(s):
            calls.add(1)
            h = sum(ord(c) for c in (s or "")[:64])
            return [float((h >> i) & 0xF) for i in range(8)]

        coll = Collection(spark, str(tmp_path), "countenc")
        create_collection(
            coll,
            canonical_docs.limit(30),
            chunk_size=200,
            chunk_overlap=40,
            embedder=lambda col: counting_embed(col),
            embedding_dim=8,
            embedder_tag="counting-fake",
            ivf_nlist=4,
            pq_m=2,
        )
        n_chunks = coll.read("chunks").count()
        assert n_chunks > 0
        assert calls.value == n_chunks
        emb = coll.read("embeddings")
        assert {"cluster_id", "codes"} <= set(emb.columns)
        assert emb.count() == n_chunks
        # the staging dir is cleaned up after the partitioned write
        import pathlib

        assert not pathlib.Path(
            coll.table_path("embeddings__raw")
        ).exists()


class TestPartitionScopedUpdate:
    """O(changed) updates: a small batch rewrites only the _pb
    partitions its keys hash into; every other partition's files are
    bit-untouched on disk (VERDICT r3 #3 / r2 #1)."""

    @staticmethod
    def _inventory(root):
        import pathlib

        return {
            str(p.relative_to(root)): (p.stat().st_mtime_ns, p.stat().st_size)
            for p in pathlib.Path(root).rglob("*.parquet")
            if p.is_file()
        }

    def test_one_doc_update_touches_only_affected_buckets(
        self, spark, canonical_docs, collection, tmp_path
    ):
        from documents_vector_search_spark.functions.hashing import (
            md5_hash64_py,
        )

        coll = _copy_collection(spark, collection, tmp_path, "scoped")
        ub = coll.manifest().converter["updateBuckets"]
        assert ub == 8

        target_id = canonical_docs.select("id").first()[0]
        before = self._inventory(coll.root)

        one = canonical_docs.filter(F.col("id") == target_id).withColumn(
            "text", F.concat(F.lit("UPDATED! "), F.col("text"))
        )
        update_collection(coll, one)

        # every table buckets by the OWNING document id, so a one-doc
        # update may touch exactly ONE bucket per table
        affected = {md5_hash64_py(target_id) % ub}

        after = self._inventory(coll.root)
        touched = (
            {k for k in after if k not in before or before[k] != after[k]}
            | {k for k in before if k not in after}
        )
        assert touched, "the update must write something"
        for path in touched:
            pbs_in_path = {
                int(part.split("=", 1)[1])
                for part in path.split("/")
                if part.startswith("_pb=")
            }
            assert pbs_in_path and pbs_in_path <= affected, (
                f"file outside affected partitions rewritten: {path} "
                f"(affected={sorted(affected)})"
            )
        # sanity: most of the corpus was NOT rewritten
        untouched = {k for k in before if after.get(k) == before[k]}
        assert len(untouched) > len(touched)

        # merge semantics intact (stale chunks gone, fresh present once)
        chunks = coll.read("chunks")
        assert (
            chunks.groupBy("chunk_id").count().filter("count > 1").count() == 0
        )
        # index tables stay chunk-complete: a fresh chunk whose bucket
        # was missing from the swap's affected set would silently
        # disappear from embeddings/doc_stats (the data-loss mode)
        chunk_ids = {r[0] for r in chunks.select("chunk_id").collect()}
        for table in ("embeddings", "doc_stats"):
            got = {
                r[0] for r in coll.read(table).select("chunk_id").collect()
            }
            assert got == chunk_ids, f"{table} out of sync with chunks"
        s = CollectionSearcher(coll)
        assert len(s.search("UPDATED", max_documents=3).collect()) >= 0

    def test_pruned_read_is_partition_pruning(
        self, spark, collection, tmp_path
    ):
        """The updater's bucket-filtered reads must resolve to Parquet
        PARTITION pruning (directory skip), not a row filter over a
        full scan — that's the entire O(changed) claim on the read
        side. The file-inventory test above proves the WRITE side."""
        from documents_vector_search_spark.collection.partitioning import (
            UPDATE_PB_COL,
        )

        coll = _copy_collection(spark, collection, tmp_path, "pruned")
        df = coll.read("documents").filter(
            F.col(UPDATE_PB_COL).isin([0, 3])
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        pf = plan.split("PartitionFilters:", 1)[1].split("]", 1)[0]
        assert UPDATE_PB_COL in pf and "IN" in pf.upper()

    def test_partial_swap_rolls_back_on_read(
        self, spark, small_fuzzy_coll, tmp_path
    ):
        import json
        import shutil

        coll = _copy_collection(spark, small_fuzzy_coll, tmp_path, "crashy")
        n_before = coll.read("documents").count()
        live = coll.root / "documents"
        pb_dirs = sorted(p for p in live.glob("_pb=*") if p.is_dir())
        victim = pb_dirs[0]
        x = int(victim.name.split("=", 1)[1])
        # simulate a crash mid-swap: partition parked in __old (with
        # marker), live copy replaced by garbage
        old = coll.root / "documents__old"
        old.mkdir()
        (old / "_PARTIAL.json").write_text(json.dumps({"pbs": [x]}))
        shutil.move(str(victim), str(old / victim.name))
        garbage = live / victim.name
        garbage.mkdir()
        (garbage / "part-zzz.parquet").write_bytes(b"not parquet")

        assert coll.read("documents").count() == n_before
        assert not (coll.root / "documents__old").exists()

    def test_manifest_without_update_buckets_is_refused(
        self, spark, canonical_docs, small_fuzzy_coll, tmp_path
    ):
        """A manifest without updateBuckets (hand-edited here; the
        tables still carry their _pb=X directories) must be refused,
        not merged: the bucket count cannot be guessed, and a wrong
        guess prunes to the wrong directories and duplicates
        documents."""
        import json

        from documents_vector_search_spark.collection import (
            delete_documents,
        )

        coll = _copy_collection(spark, small_fuzzy_coll, tmp_path, "legacy")
        mpath = coll.manifest_path
        data = json.loads(mpath.read_text())
        del data["converter"]["updateBuckets"]
        mpath.write_text(json.dumps(data))
        before = coll.counts()

        one = canonical_docs.limit(1).withColumn(
            "text", F.concat(F.lit("LEGACY-UPDATED "), F.col("text"))
        )
        with pytest.raises(ValueError, match="re-create the collection"):
            update_collection(coll, one)
        with pytest.raises(ValueError, match="re-create the collection"):
            delete_documents(coll, ["doc-1"])
        assert coll.counts() == before

    def test_create_rejects_update_buckets_below_one(
        self, spark, canonical_docs, tmp_path
    ):
        from documents_vector_search_spark.cli import main

        coll = Collection(spark, str(tmp_path), "nobuckets")
        with pytest.raises(ValueError, match="update_buckets"):
            create_collection(coll, canonical_docs.limit(3), update_buckets=0)
        assert not coll.exists()
        with pytest.raises(SystemExit):
            main([
                "create-files", "nobuckets", "--base-path", str(tmp_path),
                "--path", str(tmp_path), "--update-buckets", "0",
            ])


class TestSq8IvfComposedBatch:
    """SQ8 composed with IVF pruning: batch serving must run the
    compressed-domain shortlist (sq_adc_batch_shortlist) and match the
    per-query path exactly."""

    @pytest.fixture(scope="class")
    def sq8_ivf_coll(self, spark, canonical_docs, tmp_path_factory):
        base = str(tmp_path_factory.mktemp("sq8ivf"))
        coll = Collection(spark, base, "sq8ivf")
        create_collection(
            coll, canonical_docs, chunk_size=200, chunk_overlap=40,
            sq8=True, ivf_nlist=4,
        )
        return coll

    def test_batch_matches_per_query(self, sq8_ivf_coll):
        s = CollectionSearcher(sq8_ivf_coll)
        texts = {"a": "hash join", "b": "sort merge", "c": "table window"}
        batched = s.search_chunks_many(texts, max_chunks=5, indexes=("vector",))
        plan = batched._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan  # decode shortlist + grouped re-rank
        assert "PartitionFilters" in plan and "cluster_id" in plan
        by_qid: dict = {}
        for r in batched.collect():
            by_qid.setdefault(r.qid, []).append((r.chunk_id, r.rank, r.score))
        for qid, text in texts.items():
            expected = [
                (r.chunk_id, r.rank, r.score)
                for r in s.search_chunks(
                    text, max_chunks=5, indexes=("vector",)
                ).collect()
            ]
            assert by_qid.get(qid, []) == expected, f"mismatch for {qid}"

    def test_hybrid_batch_consistent(self, sq8_ivf_coll):
        s = CollectionSearcher(sq8_ivf_coll)
        texts = {"a": "hash join vector", "b": "columnar scan"}
        by_qid: dict = {}
        for r in s.search_chunks_many(texts, max_chunks=5).collect():
            by_qid.setdefault(r.qid, []).append((r.chunk_id, r.rank, r.score))
        for qid, text in texts.items():
            expected = [
                (r.chunk_id, r.rank, r.score)
                for r in s.search_chunks(text, max_chunks=5).collect()
            ]
            assert by_qid.get(qid, []) == expected, f"mismatch for {qid}"

    def test_sq8_ann_bucket_composition_batches_too(
        self, spark, canonical_docs, tmp_path_factory
    ):
        """The SRP-bucket twin of the composition: same batch path with
        part_col=bucket, same exact parity."""
        base = str(tmp_path_factory.mktemp("sq8ann"))
        coll = Collection(spark, base, "sq8ann")
        create_collection(
            coll, canonical_docs, chunk_size=200, chunk_overlap=40,
            sq8=True, ann_planes=3,
        )
        s = CollectionSearcher(coll)
        texts = {"a": "hash join", "b": "sort merge"}
        batched = s.search_chunks_many(texts, max_chunks=5, indexes=("vector",))
        plan = batched._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan
        assert "PartitionFilters" in plan and "bucket" in plan
        by_qid: dict = {}
        for r in batched.collect():
            by_qid.setdefault(r.qid, []).append((r.chunk_id, r.rank, r.score))
        for qid, text in texts.items():
            expected = [
                (r.chunk_id, r.rank, r.score)
                for r in s.search_chunks(
                    text, max_chunks=5, indexes=("vector",)
                ).collect()
            ]
            assert by_qid.get(qid, []) == expected, f"mismatch for {qid}"


@pytest.fixture(scope="module")
def small_fuzzy_coll(spark, canonical_docs, tmp_path_factory):
    """Pristine 8-document collection with fuzzy artifacts; tests copy
    its directory instead of paying a create each. Small on purpose:
    every update/delete rewrites the postings' term_bucket directories
    of its buckets, and that count (not the row count) sets the cost of
    each of the crash matrix's two dozen merges."""
    base = str(tmp_path_factory.mktemp("pristine"))
    coll = Collection(spark, base, "pristine")
    create_collection(
        coll, canonical_docs.limit(8), chunk_size=200, chunk_overlap=40,
        fuzzy_dictionary=True,
    )
    return coll


@pytest.fixture(scope="module")
def pristine_ids(small_fuzzy_coll) -> list[str]:
    """Sorted document ids of the pristine collection: the test batches
    key on them, so a re-run repeats exactly the same batch."""
    docs = small_fuzzy_coll.read("documents").select("id").collect()
    return sorted(r["id"] for r in docs)


def _copy_collection(spark, src, dest_dir, name):
    import shutil

    shutil.copytree(src.root, dest_dir / name)
    return Collection(spark, str(dest_dir), name)


def _update_batch(canonical_docs, first: str):
    """One changed document that grows (more chunks, so fresh chunk ids
    the stored ones do not cover) and one new document."""
    changed = canonical_docs.filter(F.col("id") == first).withColumn(
        "text",
        F.concat(
            F.lit("revised edition. "),
            F.col("text"),
            F.lit(" appended section on partition pruning." * 12),
        ),
    )
    new = canonical_docs.filter(F.col("id") == first).withColumn(
        "id", F.lit("doc-brand-new")
    )
    return changed.unionByName(new).withColumn(
        "last_modified_at", F.lit("2024-06-01 00:00:00").cast("timestamp")
    )


def _run(op, canonical_docs, coll, ids):
    from documents_vector_search_spark.collection import delete_documents

    if op == "update":
        return update_collection(coll, _update_batch(canonical_docs, ids[0]))
    return delete_documents(coll, ids[:2])


def _snapshot(coll) -> list[tuple[str, str]]:
    """Every row of every table as (table, JSON), sorted — one job."""
    from functools import reduce

    from documents_vector_search_spark.collection.catalog import TABLES

    rows = [
        coll.read(t).select(
            F.lit(t).alias("t"),
            F.to_json(F.struct(*sorted(coll.read(t).columns))).alias("j"),
        )
        for t in TABLES
    ]
    union = reduce(lambda a, b: a.unionByName(b), rows)
    return sorted((r["t"], r["j"]) for r in union.collect())


def _manifest_view(m) -> dict:
    return {
        "docs": m.numberOfDocuments,
        "chunks": m.numberOfChunks,
        "avgdl": pytest.approx(m.avgChunkLength),
        "fieldStats": m.fieldStats,
        "watermark": m.lastModifiedDocumentTime,
        "lastIndexItemId": m.lastIndexItemId,
        "inFlight": getattr(m, "inFlight", None),
    }


@pytest.fixture(scope="module")
def uninterrupted(
    spark, canonical_docs, small_fuzzy_coll, pristine_ids, tmp_path_factory
):
    """Tables and manifest of each operation run without a crash."""
    out = {}
    for op in ("update", "delete"):
        coll = _copy_collection(
            spark, small_fuzzy_coll, tmp_path_factory.mktemp(op), "ref"
        )
        m = _run(op, canonical_docs, coll, pristine_ids)
        counts = coll.counts()
        assert m.numberOfDocuments == counts["documents"]
        assert m.numberOfChunks == counts["chunks"]
        out[op] = (_snapshot(coll), _manifest_view(m))
    return out


def _inject_crash(monkeypatch, coll, boundary):
    """Make the next update/delete die at ``boundary``."""
    from pyspark.sql.readwriter import DataFrameWriter

    from documents_vector_search_spark.collection import fuzzy_artifacts as fa
    from documents_vector_search_spark.collection import updater as upd

    def die(*_a, **_k):
        raise RuntimeError(f"simulated crash at {boundary}")

    if boundary == "staged_write":
        real_parquet = DataFrameWriter.parquet

        def parquet(self, path, *a, **k):
            if str(path).endswith("chunks__tmp"):
                die()
            return real_parquet(self, path, *a, **k)

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    elif boundary == "mid_swap":
        # phase B dies parking the third table (two already swapped)
        real_pb_dirs, calls = upd.pb_dirs, []

        def pb_dirs(*a, **k):
            calls.append(1)
            if len(calls) == 5:
                die()
            return real_pb_dirs(*a, **k)

        monkeypatch.setattr(upd, "pb_dirs", pb_dirs)
    elif boundary == "before_documents_swap":
        # every table but documents committed
        real_swap = upd._swap_partitions

        def swap(collection, merged, partition_cols, affected_pbs, **kw):
            part = {t: df for t, df in merged.items() if t != "documents"}
            real_swap(
                collection, part,
                {t: partition_cols[t] for t in part},
                {t: affected_pbs[t] for t in part},
                **kw,
            )
            die()

        monkeypatch.setattr(upd, "_swap_partitions", swap)
    elif boundary == "after_documents_swap":
        monkeypatch.setattr(upd, "_apply_fuzzy_delta", die)
    elif boundary == "fuzzy_publish":
        # between the deletion-index and the vocab batch renames
        real_publish = fa._publish_batch

        def publish(collection, deltas_table, batch_id, tmp):
            if deltas_table == fa.VOCAB_DELTAS_TABLE:
                die()
            return real_publish(collection, deltas_table, batch_id, tmp)

        monkeypatch.setattr(fa, "_publish_batch", publish)
    else:  # manifest_save: the final save, not the in-flight record's
        real_save = coll.save_manifest

        def save(manifest):
            if getattr(manifest, "inFlight", None) is None:
                die()
            return real_save(manifest)

        monkeypatch.setattr(coll, "save_manifest", save)


class TestWriteCrashConvergence:
    """An update or delete that dies at any stage boundary, then runs
    again, ends with the tables of an uninterrupted run and a manifest
    that matches both that run and the stored tables."""

    @pytest.mark.parametrize(
        "op, boundary",
        [
            (op, boundary)
            for boundary in (
                "staged_write",
                "mid_swap",
                "before_documents_swap",
                "after_documents_swap",
                "fuzzy_publish",
                "manifest_save",
            )
            for op in ("update", "delete")
            # delete at these two boundaries: TestDeleteDocuments::
            # test_crashed_delete_converges_on_rerun and
            # test_crash_after_final_swap_recounts_on_rerun
            if (op, boundary) not in {
                ("delete", "before_documents_swap"),
                ("delete", "manifest_save"),
            }
        ],
    )
    def test_rerun_converges(
        self, spark, canonical_docs, small_fuzzy_coll, pristine_ids,
        uninterrupted, tmp_path, monkeypatch, op, boundary,
    ):
        coll = _copy_collection(spark, small_fuzzy_coll, tmp_path, "crash")
        with monkeypatch.context() as mp:
            _inject_crash(mp, coll, boundary)
            with pytest.raises(RuntimeError, match="simulated crash"):
                _run(op, canonical_docs, coll, pristine_ids)

        m = _run(op, canonical_docs, coll, pristine_ids)
        tables, manifest = uninterrupted[op]
        # equal tables + a manifest equal to the uninterrupted run's
        # (whose counts match its tables) = manifest matches the tables
        assert _snapshot(coll) == tables
        assert _manifest_view(m) == manifest
        assert _manifest_view(coll.manifest()) == manifest

    def test_cached_searcher_does_not_resurrect_updated_rows(
        self, spark, canonical_docs, small_fuzzy_coll, tmp_path
    ):
        """A serving searcher's persisted tables must not feed a later
        merge: update one document, then delete another from the SAME
        _pb bucket with no refresh in between — the update must
        survive on disk."""
        from documents_vector_search_spark.collection import (
            delete_documents,
        )
        from documents_vector_search_spark.functions.hashing import (
            md5_hash64_py,
        )

        coll = _copy_collection(spark, small_fuzzy_coll, tmp_path, "cached")
        ub = coll.manifest().converter["updateBuckets"]
        by_bucket: dict[int, list[str]] = {}
        for r in coll.read("documents").select("id").collect():
            by_bucket.setdefault(md5_hash64_py(r["id"]) % ub, []).append(
                r["id"]
            )
        kept, victim = sorted(
            next(ids for ids in by_bucket.values() if len(ids) >= 2)
        )[:2]

        searcher = CollectionSearcher(coll, cache_tables=True)
        assert searcher.search("join", max_documents=3).collect() is not None
        update_collection(
            coll,
            canonical_docs.filter(F.col("id") == kept).withColumn(
                "text", F.concat(F.lit("UPDATED-MARKER "), F.col("text"))
            ),
        )
        delete_documents(coll, [victim])
        spark.catalog.clearCache()

        docs = coll.read("documents")
        assert docs.filter(F.col("id") == victim).count() == 0
        text = docs.filter(F.col("id") == kept).first()["text"]
        assert text.startswith("UPDATED-MARKER ")
        chunk0 = (
            coll.read("chunks")
            .filter(F.col("document_id") == kept)
            .orderBy("chunk_number")
            .collect()
        )
        assert any("updated-marker" in c["indexed_data"].lower() for c in chunk0)
