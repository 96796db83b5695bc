"""Search core: BM25, kNN, RRF, group-hits, fetch, chunking.

Hand-computed expectations on tiny inputs + metamorphic properties on
the synthetic corpus (top-k ⊆ top-(k+1); single-list RRF preserves
order — fixing the reference's no-ranking-tests gap, SURVEY §5).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from documents_vector_search_spark.operators.bm25 import (
    K1,
    B,
    bm25_topk,
    build_doc_stats,
    build_postings,
)
from documents_vector_search_spark.operators.chunking import (
    assign_chunk_ids,
    fixed_window_chunks,
)
from documents_vector_search_spark.operators.fetch import fetch_lines
from documents_vector_search_spark.operators.group_hits import group_hits_by_document
from documents_vector_search_spark.operators.knn import knn_cosine, knn_l2
from documents_vector_search_spark.operators.rrf import rrf_fuse
from documents_vector_search_spark.registry import QUERY_VEC


class TestBM25:
    def test_postings_and_doc_stats(self, tiny_docs):
        postings = build_postings(tiny_docs).collect()
        tf = {(r.doc_id, r.term): r.tf for r in postings}
        assert tf[(1, "the")] == 2  # "the quick ... the lazy"
        assert tf[(3, "join")] == 2
        dl = {r.doc_id: r.dl for r in build_doc_stats(tiny_docs).collect()}
        assert dl[1] == 9 and dl[3] == 8 and dl[5] == 0

    def test_hand_computed_score(self, tiny_docs):
        # query "join": only doc 3 matches; verify the exact okapi value
        got = bm25_topk(tiny_docs, "join", 5).collect()
        assert [r.doc_id for r in got] == [3]
        n_docs, df_t, tf, dl = 5, 1, 2, 8
        avgdl = (9 + 9 + 8 + 6 + 0) / 5
        idf = math.log((n_docs - df_t + 0.5) / (df_t + 0.5))
        expected = idf * (tf * (K1 + 1)) / (tf + K1 * (1 - B + B * dl / avgdl))
        assert got[0].score == pytest.approx(round(expected, 6))

    def test_conjunctive_all_terms_required(self, tiny_docs):
        # "quick pasta" co-occurs nowhere
        assert bm25_topk(tiny_docs, "quick pasta", 5).count() == 0

    def test_empty_query(self, tiny_docs):
        assert bm25_topk(tiny_docs, "", 5).count() == 0

    def test_prebuilt_index_same_result(self, tiny_docs):
        postings = build_postings(tiny_docs)
        stats = build_doc_stats(tiny_docs)
        a = bm25_topk(tiny_docs, "quick fox", 5).collect()
        b = bm25_topk(
            tiny_docs, "quick fox", 5, postings=postings, doc_stats=stats
        ).collect()
        assert a == b

    def test_batch_matches_per_query(self, tiny_docs):
        from documents_vector_search_spark.operators.bm25 import (
            bm25_topk_batch,
        )

        postings = build_postings(tiny_docs)
        stats = build_doc_stats(tiny_docs)
        queries = {"a": "quick fox", "b": "join", "c": "quick pasta", "d": ""}
        batch = bm25_topk_batch(queries, 5, postings=postings, doc_stats=stats)
        by_qid = {}
        for r in batch.collect():
            by_qid.setdefault(r.qid, []).append((r.doc_id, r.score))
        for qid in ("a", "b"):
            expected = [
                (r.doc_id, r.score)
                for r in bm25_topk(
                    tiny_docs, queries[qid], 5,
                    postings=postings, doc_stats=stats,
                ).collect()
            ]
            assert by_qid[qid] == expected, f"mismatch for {qid}"
        assert "c" not in by_qid  # conjunctive: terms never co-occur
        assert "d" not in by_qid  # empty query omitted

    def test_with_dl_repartition_parity(self, tiny_docs):
        """The r12 zero-exchange with_dl build (dl = pre-explode token
        array size carried as a grouping column) must emit exactly the
        rows of the windowed form for both the tf-only and positional
        layouts — including the zero-length doc, which yields no
        postings either way — and the bucket_partitions fusion must add
        exactly the term_bucket column with unchanged values."""
        from pyspark.sql import Window

        from documents_vector_search_spark.operators.bm25 import (
            term_bucket,
        )

        for with_positions in (False, True):
            with_dl = build_postings(
                tiny_docs, with_dl=True, with_positions=with_positions
            )
            got = sorted(map(tuple, with_dl.collect()))
            want = sorted(
                map(
                    tuple,
                    build_postings(tiny_docs, with_positions=with_positions)
                    .withColumn(
                        "dl",
                        F.sum("tf")
                        .over(Window.partitionBy("doc_id"))
                        .cast("bigint"),
                    )
                    .select(*with_dl.columns)
                    .collect(),
                )
            )
            assert got == want and got
            bucketed = build_postings(
                tiny_docs,
                with_dl=True,
                with_positions=with_positions,
                bucket_partitions=4,
            )
            assert bucketed.columns == with_dl.columns + ["term_bucket"]
            got_b = sorted(map(tuple, bucketed.collect()))
            want_b = sorted(
                map(
                    tuple,
                    build_postings(
                        tiny_docs,
                        with_dl=True,
                        with_positions=with_positions,
                    )
                    .withColumn("term_bucket", term_bucket(F.col("term")))
                    .collect(),
                )
            )
            assert got_b == want_b

    def test_field_postings_single_scan_parity(self, spark):
        """The r12 one-scan build_field_postings (one generator over
        all fields, one groupBy) must equal the naive per-field
        explode+union reference — per (doc, field, term) tf and per
        (doc, field) fl — for both title conventions, including docs
        with no blank-line separator, an empty body, and an empty
        title column."""
        from documents_vector_search_spark.operators.bm25 import (
            build_field_postings,
            field_text_exprs,
        )
        from documents_vector_search_spark.functions.text import tokenize

        rows = [
            ("d1", "Spark Joins", "spark hash join\n\nsort merge join spark"),
            ("d2", "", "no separator here just words"),
            ("d3", "Empty Body", "title only\n\n"),
            ("d4", "x", ""),
        ]
        docs = spark.createDataFrame(rows, ["id", "src_title", "text"])
        for kwargs in (
            {"title_col": "src_title"},
            {"title_from_text": True},
        ):
            got = sorted(
                map(tuple, build_field_postings(docs, **kwargs).collect())
            )
            # naive reference: one explode + groupBy per field, unioned
            fields = field_text_exprs(**kwargs)
            parts = []
            for name, col in fields.items():
                toks = docs.select(
                    F.col("id").alias("document_id"),
                    F.explode_outer(tokenize(col)).alias("term"),
                ).filter(F.col("term").isNotNull())
                from pyspark.sql import Window

                parts.append(
                    toks.groupBy("document_id", "term")
                    .agg(F.count("*").cast("bigint").alias("tf"))
                    .withColumn(
                        "fl",
                        F.sum("tf")
                        .over(Window.partitionBy("document_id"))
                        .cast("bigint"),
                    )
                    .withColumn("field", F.lit(name))
                    .select("document_id", "field", "term", "tf", "fl")
                )
            ref = parts[0]
            for p in parts[1:]:
                ref = ref.unionByName(p)
            want = sorted(map(tuple, ref.collect()))
            assert got == want and got


class TestKNN:
    def test_exact_match_first(self, spark):
        rows = [(i, [float(i), 0.0]) for i in range(10)]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        got = knn_l2(df, [3.0, 0.0], 3).collect()
        assert got[0].vec_id == 3 and got[0].distance == 0.0
        assert [r.vec_id for r in got] == [3, 2, 4]  # tie 2/4 broken by id

    def test_cosine_ignores_magnitude(self, spark):
        df = spark.createDataFrame(
            [(1, [10.0, 0.0]), (2, [0.1, 0.0]), (3, [0.0, 5.0])],
            ["vec_id", "embedding"],
        )
        got = knn_cosine(df, [1.0, 0.0], 3).collect()
        assert {got[0].vec_id, got[1].vec_id} == {1, 2}
        assert got[0].similarity == got[1].similarity == 1.0

    def test_topk_is_prefix_of_topk_plus_1(self, embeddings_df):
        k5 = [r.vec_id for r in knn_l2(embeddings_df, QUERY_VEC, 5).collect()]
        k6 = [r.vec_id for r in knn_l2(embeddings_df, QUERY_VEC, 6).collect()]
        assert k6[:5] == k5

    def test_filter_pushdown_respected(self, embeddings_df):
        got = knn_l2(
            embeddings_df, QUERY_VEC, 5, predicate=F.col("label") == 2
        ).collect()
        labels = {
            r.label
            for r in embeddings_df.filter(
                F.col("vec_id").isin([g.vec_id for g in got])
            ).collect()
        }
        assert labels == {2}

    def test_numpy_scorer_parity_wide_dim(self, spark):
        """knn_l2_auto dispatches to the vectorized scorer at wide dims
        and MUST return bit-identical (id, distance) rows — both paths
        round to 6 decimals before the (distance, id) ordering."""
        import random

        from documents_vector_search_spark.operators.knn import (
            NUMPY_KNN_MIN_DIM,
            knn_l2_auto,
            knn_l2_numpy,
        )

        rng = random.Random(7)
        dim = NUMPY_KNN_MIN_DIM  # exactly at the crossover → numpy path
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(60)
        ]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        q = [rng.uniform(-1, 1) for _ in range(dim)]

        expr = [(r.vec_id, r.distance) for r in knn_l2(df, q, 7).collect()]
        vect = [
            (r.vec_id, r.distance) for r in knn_l2_numpy(df, q, 7).collect()
        ]
        auto = [
            (r.vec_id, r.distance) for r in knn_l2_auto(df, q, 7).collect()
        ]
        assert expr == vect == auto

        # dispatch contract: wide → Arrow-batched pandas scorer in the
        # plan, narrow → pure expression (codegen / oracle-parity path)
        wide_plan = knn_l2_auto(df, q, 7)._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in wide_plan
        narrow = spark.createDataFrame(
            [(i, [float(i), 0.0]) for i in range(10)], ["vec_id", "embedding"]
        )
        narrow_plan = knn_l2_auto(narrow, [1.0, 0.0], 3)._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in narrow_plan


class TestRRF:
    def test_hand_computed_fusion(self, spark):
        l1 = spark.createDataFrame([(10, 0), (20, 1)], ["doc_id", "rank"])
        l2 = spark.createDataFrame([(20, 0), (30, 1)], ["doc_id", "rank"])
        got = {r.doc_id: r.rrf_score for r in rrf_fuse([l1, l2], 10, rrf_k=60).collect()}
        assert got[20] == pytest.approx(round(1 / 61 + 1 / 62, 6))
        assert got[10] == pytest.approx(round(1 / 61, 6))
        assert got[30] == pytest.approx(round(1 / 62, 6))

    def test_single_list_preserves_order(self, spark):
        lst = spark.createDataFrame(
            [(i * 7, i) for i in range(5)], ["doc_id", "rank"]
        )
        got = [r.doc_id for r in rrf_fuse([lst], 5).collect()]
        assert got == [0, 7, 14, 21, 28]

    def test_identical_lists_fuse_to_same_order(self, spark):
        lst = spark.createDataFrame(
            [(3, 0), (1, 1), (2, 2)], ["doc_id", "rank"]
        )
        got = [r.doc_id for r in rrf_fuse([lst, lst], 3).collect()]
        assert got == [3, 1, 2]


class TestGroupHits:
    def test_first_hit_determines_doc_order(self, spark):
        hits = spark.createDataFrame(
            [("B", 100, 0, 0.9), ("A", 101, 1, 0.8), ("B", 102, 2, 0.7), ("A", 103, 3, 0.6)],
            ["doc_id", "chunk_id", "rank", "score"],
        )
        got = group_hits_by_document(hits).collect()
        assert [r.doc_id for r in got] == ["B", "A"]
        assert got[0].matched_chunks == [100, 102]
        assert got[0].best_score == pytest.approx(0.9)
        assert got[1].n_chunks == 2

    def test_max_documents_truncation(self, spark):
        hits = spark.createDataFrame(
            [(c, i, i, 1.0 - i / 10) for i, c in enumerate("ABCD")],
            ["doc_id", "chunk_id", "rank", "score"],
        )
        got = group_hits_by_document(hits, max_documents=2).collect()
        assert [r.doc_id for r in got] == ["A", "B"]


class TestFetch:
    def test_line_slice(self, spark):
        df = spark.createDataFrame([(1, "l1\nl2\nl3\nl4")], ["doc_id", "text"])
        r = fetch_lines(df, 1, 2, 3).first()
        assert (r.start_line, r.end_line, r.total_lines) == (2, 3, 4)
        assert r.text_slice == "l2\nl3"

    def test_clamping(self, spark):
        df = spark.createDataFrame([(1, "l1\nl2")], ["doc_id", "text"])
        r = fetch_lines(df, 1, -5, 100).first()
        assert (r.start_line, r.end_line) == (1, 2)
        assert r.text_slice == "l1\nl2"

    def test_missing_doc_empty(self, spark):
        df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
        assert fetch_lines(df, 999).count() == 0


class TestChunking:
    def test_exact_window_math(self, spark):
        df = spark.createDataFrame([(1, "a" * 250)], ["doc_id", "text"])
        got = fixed_window_chunks(df, chunk_size=100, overlap=20).collect()
        # stride 80: chunks at 1, 81, 161, 241 → lengths 100,100,90,10
        assert len(got) == 3  # 1 + ceil((250-100)/80) = 1 + 2
        assert [len(r.chunk_text) for r in got] == [100, 100, 90]

    def test_short_and_empty_docs_get_one_chunk(self, spark):
        df = spark.createDataFrame([(1, "short"), (2, "")], ["doc_id", "text"])
        got = fixed_window_chunks(df, 100, 20).collect()
        assert len(got) == 2

    def test_overlap_content(self, spark):
        df = spark.createDataFrame(
            [(1, "0123456789" * 3)], ["doc_id", "text"]
        )
        got = {
            r.chunk_number: r.chunk_text
            for r in fixed_window_chunks(df, chunk_size=10, overlap=5).collect()
        }
        assert got[0] == "0123456789"
        assert got[1] == "5678901234"  # 5-char overlap with chunk 0

    def test_chunk_ids_contiguous_with_offset(self, spark):
        df = spark.createDataFrame(
            [(2, "x" * 150), (1, "y" * 150)], ["doc_id", "text"]
        )
        chunks = assign_chunk_ids(
            fixed_window_chunks(df, 100, 0), offset=7
        ).collect()
        ids = sorted(r.chunk_id for r in chunks)
        assert ids == [7, 8, 9, 10]
        by_key = {(r.doc_id, r.chunk_number): r.chunk_id for r in chunks}
        assert by_key[(1, 0)] == 7  # ordered by (doc_id, chunk_number)


class TestKNNNumpyVariant:
    def test_matches_expression_form(self, embeddings_df):
        from documents_vector_search_spark.operators.knn import knn_l2_numpy
        from documents_vector_search_spark.registry import QUERY_VEC

        expr_ids = [
            (r.vec_id, r.distance)
            for r in knn_l2(embeddings_df, QUERY_VEC, 10).collect()
        ]
        np_ids = [
            (r.vec_id, r.distance)
            for r in knn_l2_numpy(embeddings_df, QUERY_VEC, 10).collect()
        ]
        assert expr_ids == np_ids


class TestMeanPool:
    def test_centroids_and_counts(self, spark):
        from documents_vector_search_spark.operators.embedding import mean_pool

        df = spark.createDataFrame(
            [
                (0, [1.0, 2.0]),
                (0, [3.0, 4.0]),
                (1, [10.0, -10.0]),
            ],
            ["label", "embedding"],
        )
        got = {r.label: r for r in mean_pool(df, dim=2).collect()}
        assert got[0].centroid == [2.0, 3.0] and got[0].n == 2
        assert got[1].centroid == [10.0, -10.0] and got[1].n == 1

    def test_single_shuffle_plan(self, spark):
        """dim component averages must share ONE aggregation (partial +
        final = one Exchange) — no posexplode of (rows x dim)."""
        from documents_vector_search_spark.operators.embedding import mean_pool

        df = spark.createDataFrame(
            [(i % 3, [float(i), float(i + 1)]) for i in range(20)],
            ["label", "embedding"],
        )
        plan = (
            mean_pool(df, dim=2)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange") == 1
        assert "Generate" not in plan  # no explode


class TestKnnBatch:
    def test_matches_per_query_knn(self, spark):
        from documents_vector_search_spark.operators.knn import (
            knn_l2,
            knn_l2_batch,
        )

        rows = [
            (i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)])
            for i in range(200)
        ]
        emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(6)
        queries = {
            "a": [0.5] * 8,
            "b": [float(j % 3 - 1) for j in range(8)],
            "c": [-2.0] * 8,
        }
        batch = knn_l2_batch(emb, queries, 5).collect()
        by_qid = {}
        for r in batch:
            by_qid.setdefault(r.qid, []).append((r.vec_id, r.distance))
        for qid, vec in queries.items():
            expected = [
                (r.vec_id, r.distance) for r in knn_l2(emb, vec, 5).collect()
            ]
            assert by_qid[qid] == expected, f"mismatch for {qid}"

    def test_single_scan_plan(self, spark):
        """All Q queries answered from ONE pass: exactly one scan node
        and one candidates shuffle in the plan."""
        from documents_vector_search_spark.operators.knn import knn_l2_batch

        emb = spark.range(50).select(
            F.col("id").alias("vec_id"),
            F.array(*[(F.col("id") * (i + 1)).cast("double") for i in range(4)]).alias(
                "embedding"
            ),
        )
        plan = (
            knn_l2_batch(emb, {"a": [1.0] * 4, "b": [2.0] * 4}, 3)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Range (0, 50") == 1  # one source scan
        assert plan.count("Exchange") == 1  # only the per-qid window


class TestKnnBatchPruned:
    """operators/knn.py::knn_l2_batch_pruned — per-query probe masks
    over one union-pruned scan."""

    @staticmethod
    def _df(spark):
        # 3 "clusters" of vectors: cluster c holds ids [100c, 100c+9]
        rows = [
            (100 * c + i, c, [float(100 * c + i), 0.0])
            for c in range(3)
            for i in range(10)
        ]
        return spark.createDataFrame(rows, ["vec_id", "cluster_id", "embedding"])

    def test_matches_per_query_pruned_exact(self, spark):
        from documents_vector_search_spark.operators.knn import (
            knn_l2,
            knn_l2_batch_pruned,
        )

        df = self._df(spark)
        queries = {"a": [5.0, 0.0], "b": [205.0, 0.0]}
        probes = {"a": [0, 1], "b": [2]}
        got = knn_l2_batch_pruned(
            df, queries, probes, k=4, part_col="cluster_id"
        ).collect()
        by_qid: dict = {}
        for r in got:
            by_qid.setdefault(r.qid, []).append((r.vec_id, r.distance))
        for qid in queries:
            expected = [
                (r.vec_id, r.distance)
                for r in knn_l2(
                    df.filter(F.col("cluster_id").isin(probes[qid])),
                    queries[qid],
                    4,
                ).collect()
            ]
            assert by_qid[qid] == expected, qid
        # probe masks respected: b never sees clusters 0/1
        assert all(v >= 200 for v, _ in by_qid["b"])

    def test_empty_probe_query_absent_not_error(self, spark):
        from documents_vector_search_spark.operators.knn import (
            knn_l2_batch_pruned,
        )

        df = self._df(spark).filter(F.col("cluster_id") < 2)
        got = knn_l2_batch_pruned(
            df,
            {"a": [5.0, 0.0], "ghost": [5.0, 0.0]},
            {"a": [0], "ghost": [7]},  # bucket 7 has no rows
            k=3,
            part_col="cluster_id",
        ).collect()
        qids = {r.qid for r in got}
        assert qids == {"a"}

    def test_missing_probe_set_rejected(self, spark):
        import pytest as _pytest

        from documents_vector_search_spark.operators.knn import (
            knn_l2_batch_pruned,
        )

        with _pytest.raises(ValueError, match="without probe sets"):
            knn_l2_batch_pruned(
                self._df(spark), {"a": [1.0, 0.0]}, {}, k=3
            )


class TestMaxSimLateInteraction:
    """operators/late_interaction.py — ColBERT-style multi-vector
    scoring: score(group) = sum over query vectors of the group's max
    rounded cosine."""

    def _df(self, spark):
        # group 1: axis-aligned vectors on x and y; group 2: only x;
        # group 3: diagonal
        rows = [
            (1, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [1.0, 0.0]),
            (3, [0.7071068, 0.7071068]),
        ]
        return spark.createDataFrame(rows, ["doc_id", "embedding"])

    def test_maxsim_values(self, spark):
        from documents_vector_search_spark.operators.late_interaction import (
            maxsim_scores,
        )

        got = maxsim_scores(
            self._df(spark), {"qx": [1.0, 0.0], "qy": [0.0, 1.0]}, k=3
        ).collect()
        scores = {r.doc_id: r.score for r in got}
        # group 1 matches both query vectors perfectly: 1 + 1
        assert scores[1] == 2.0
        # group 2: qx hits 1, qy max cosine is 0
        assert scores[2] == 1.0
        # group 3: both query vectors see cos 45deg
        assert scores[3] == pytest.approx(2 * 0.707107, abs=1e-6)
        # ranking: ties broken by ascending group id
        assert [r.doc_id for r in got] == [1, 3, 2]

    def test_single_shuffle_partial_agg_topk(self, spark):
        from documents_vector_search_spark.operators.late_interaction import (
            maxsim_scores,
        )

        plan = (
            maxsim_scores(self._df(spark), {"q": [1.0, 0.0]}, k=2)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # one shuffle (the group-by), map-side partial max, and a
        # TakeOrdered top-k instead of a global sort
        assert plan.count("Exchange") == 1
        assert "partial_max" in plan
        assert "TakeOrderedAndProject" in plan
        assert "BatchEvalPython" not in plan

    def test_empty_queries_rejected(self, spark):
        import pytest as _pytest

        from documents_vector_search_spark.operators.late_interaction import (
            maxsim_scores,
        )

        with _pytest.raises(ValueError, match="must not be empty"):
            maxsim_scores(self._df(spark), {}, k=2)

    def test_negative_maxima_not_clamped(self, spark):
        from documents_vector_search_spark.operators.late_interaction import (
            maxsim_scores,
        )

        df = spark.createDataFrame(
            [(1, [-1.0, 0.0])], ["doc_id", "embedding"]
        )
        got = maxsim_scores(df, {"q": [1.0, 0.0]}, k=1).first()
        assert got.score == -1.0  # the ColBERT sum, no clamping


class TestMMRRerank:
    """operators/mmr.py — greedy diversified re-ranking over a bounded
    shortlist (Carbonell & Goldstein 1998)."""

    def _cands(self, spark):
        # 1 and 2 are near-duplicates pointing at x; 3 is orthogonal
        # with lower relevance; 4 is a weaker x-duplicate
        rows = [
            (1, 0.99, [1.0, 0.0]),
            (2, 0.98, [0.9998, 0.02]),
            (3, 0.60, [0.0, 1.0]),
            (4, 0.95, [1.0, 0.001]),
        ]
        return spark.createDataFrame(rows, ["vec_id", "score", "embedding"])

    def test_diversity_promotes_orthogonal_candidate(self, spark):
        from documents_vector_search_spark.operators.mmr import mmr_rerank

        got = mmr_rerank(self._cands(spark), k=3, lam=0.5).collect()
        order = [r.vec_id for r in sorted(got, key=lambda r: r.rank)]
        # pure relevance would give [1, 2, 4]; MMR picks the orthogonal
        # candidate second because 2 and 4 are redundant with 1
        assert order == [1, 3, 2]

    def test_lambda_one_is_relevance_order(self, spark):
        from documents_vector_search_spark.operators.mmr import mmr_rerank

        got = mmr_rerank(self._cands(spark), k=4, lam=1.0).collect()
        order = [r.vec_id for r in sorted(got, key=lambda r: r.rank)]
        assert order == [1, 2, 4, 3]
        # with lam=1 the objective IS the (rounded) relevance
        scores = {r.vec_id: r.mmr_score for r in got}
        assert scores[1] == 0.99 and scores[3] == 0.6

    def test_k_larger_than_candidates_and_empty(self, spark):
        from documents_vector_search_spark.operators.mmr import mmr_rerank

        got = mmr_rerank(self._cands(spark), k=50, lam=0.7).collect()
        assert len(got) == 4
        assert sorted(r.rank for r in got) == [1, 2, 3, 4]
        empty = self._cands(spark).filter("vec_id < 0")
        assert mmr_rerank(empty, k=5).collect() == []

    def test_invalid_lambda_rejected(self, spark):
        import pytest as _pytest

        from documents_vector_search_spark.operators.mmr import mmr_rerank

        with _pytest.raises(ValueError, match="lam"):
            mmr_rerank(self._cands(spark), k=2, lam=1.5)

    def test_tie_breaks_on_ascending_id(self, spark):
        from documents_vector_search_spark.operators.mmr import mmr_rerank

        df = spark.createDataFrame(
            [(7, 0.5, [1.0, 0.0]), (3, 0.5, [0.0, 1.0])],
            ["vec_id", "score", "embedding"],
        )
        got = mmr_rerank(df, k=2, lam=1.0).collect()
        assert [r.vec_id for r in sorted(got, key=lambda r: r.rank)] == [3, 7]
