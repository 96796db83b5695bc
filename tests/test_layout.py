"""Z-order layout: Morton key correctness (vs a bit-twiddling python
reference), the layout write, and the property the whole feature
exists for — a two-dimensional range predicate overlaps far fewer
parquet files' min/max stats under the Z layout than under a
single-column sort."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from documents_vector_search_spark.operators.layout import (
    file_minmax_overlap_fraction,
    zorder_key,
    zorder_layout,
)


def _morton_py(a: int, b: int, bits: int = 16) -> int:
    out = 0
    a &= (1 << bits) - 1
    b &= (1 << bits) - 1
    for i in range(bits):
        out |= ((a >> i) & 1) << (2 * i)
        out |= ((b >> i) & 1) << (2 * i + 1)
    return out


class TestZorderKey:
    def test_matches_python_reference(self, spark):
        rows = [(a, b) for a in (0, 1, 5, 255, 65535, 70000) for b in (0, 3, 64, 65535)]
        df = spark.createDataFrame(rows, "a int, b int").withColumn(
            "z", zorder_key(F.col("a"), F.col("b"))
        )
        for r in df.collect():
            assert r.z == _morton_py(r.a, r.b), (r.a, r.b)

    def test_locality(self, spark):
        # adjacent points in (a, b) are close in z: the key of (a, b)
        # and (a+1, b) differ only in a's interleaved bits
        df = spark.createDataFrame([(7, 9)], "a int, b int").select(
            zorder_key(F.col("a"), F.col("b")).alias("z1"),
            zorder_key(F.col("a") + 1, F.col("b")).alias("z2"),
        )
        r = df.collect()[0]
        assert r.z1 == _morton_py(7, 9) and r.z2 == _morton_py(8, 9)


class TestZorderLayout:
    @pytest.fixture(scope="class")
    def grid(self, spark):
        # a 256x256 grid of points — both dims uniformly spread
        return spark.range(256 * 256).select(
            (F.col("id") % 256).cast("int").alias("a"),
            (F.col("id") / 256).cast("int").alias("b"),
            F.col("id").alias("payload"),
        )

    def test_zorder_skips_files_where_linear_sort_cannot(
        self, spark, grid, tmp_path
    ):
        """The measurable contract: for a box predicate on (a, b), the
        fraction of files whose footer min/max box overlaps the query
        rectangle — i.e. the files a stats-pruning scan must read — is
        SMALL under the Z layout, while a layout sorted only on ``a``
        must read every file for a predicate on ``b`` alone."""
        zpath = str(tmp_path / "zsorted")
        zorder_layout(grid, "a", "b", num_files=64).drop("_z").write.parquet(
            zpath
        )
        apath = str(tmp_path / "asorted")
        grid.repartitionByRange(64, F.col("a")).sortWithinPartitions(
            "a"
        ).write.parquet(apath)

        # a 32x32 box (1/64 of the domain area)
        box = dict(col_a="a", lo_a=96, hi_a=127, col_b="b", lo_b=96, hi_b=127)
        z_frac = file_minmax_overlap_fraction(zpath, **box)
        a_frac = file_minmax_overlap_fraction(apath, **box)
        # z-layout: only files whose z-range crosses the box — a small
        # fraction; a-sorted layout: the box constrains a, so it also
        # prunes here (both are fine on the leading column)
        assert z_frac <= 0.25, z_frac
        assert a_frac <= 0.25, a_frac

        # predicate on b ONLY: a-sorted files all span the full b range
        # (every file overlaps), the z layout still prunes
        b_only = dict(col_a="a", lo_a=0, hi_a=255, col_b="b", lo_b=96, hi_b=127)
        z_frac_b = file_minmax_overlap_fraction(zpath, **b_only)
        a_frac_b = file_minmax_overlap_fraction(apath, **b_only)
        assert a_frac_b == 1.0, a_frac_b
        assert z_frac_b <= 0.5, z_frac_b
        # and the layout is lossless
        assert (
            spark.read.parquet(zpath).count()
            == spark.read.parquet(apath).count()
            == 256 * 256
        )


class TestBm25f:
    @pytest.fixture(scope="class")
    def corpus(self, spark):
        # d1: term in title only; d2: same term in body only (longer
        # body); d4: term in both fields; d3/d5-d8: no match (enough
        # non-matching docs that idf = ln((N-df+.5)/(df+.5)) > 0)
        return spark.createDataFrame(
            [
                (1, "spark shuffle", "a b c d"),
                (2, "alpha beta", "spark x y z w q"),
                (3, "gamma delta", "e f g h"),
                (4, "spark join", "spark runs fast"),
                (5, "iota kappa", "m n o p"),
                (6, "lambda mu", "r s t u"),
                (7, "nu xi", "v w a b"),
                (8, "omicron pi", "c d e f"),
            ],
            "doc_id long, title string, body string",
        )

    def _topk(self, corpus, query="spark", weights=None):
        from documents_vector_search_spark.operators.bm25 import bm25f_topk

        return bm25f_topk(
            corpus,
            query,
            10,
            fields={"title": F.col("title"), "body": F.col("body")},
            weights=weights or {"title": 2.0, "body": 1.0},
            field_b={"title": 0.5, "body": 0.75},
        ).collect()

    def test_title_match_outranks_body_match(self, corpus):
        rows = self._topk(corpus)
        ids = [r.doc_id for r in rows]
        assert set(ids) == {1, 2, 4}
        # d4 (both fields) first, d1 (title) above d2 (body-only)
        assert ids.index(4) < ids.index(1) < ids.index(2)

    def test_matches_hand_computation(self, spark):
        """One term, two docs, weights/b chosen so the arithmetic is
        checkable by hand: w_title=2 b_title=0, w_body=1 b_body=0
        (no length normalization) ->
        tfw(d1) = 2*1 = 2 (title tf 1), tfw(d2) = 1*2 = 2 (body tf 2);
        df=2, N=2 -> idf = ln(0.5/2.5); score = idf * tfw/(1.2+tfw),
        identical for both docs."""
        import math

        from documents_vector_search_spark.operators.bm25 import bm25f_topk

        corpus = spark.createDataFrame(
            [(1, "apple pie", "x y"), (2, "other words", "apple apple z")],
            "doc_id long, title string, body string",
        )
        rows = bm25f_topk(
            corpus,
            "apple",
            10,
            fields={"title": F.col("title"), "body": F.col("body")},
            weights={"title": 2.0, "body": 1.0},
            field_b={"title": 0.0, "body": 0.0},
        ).collect()
        expected = round(math.log(0.5 / 2.5) * 2 / (1.2 + 2), 6)
        assert {(r.doc_id, r.score) for r in rows} == {
            (1, expected),
            (2, expected),
        }

    def test_conjunctive_requires_all_terms_across_fields(self, corpus):
        # 'spark shuffle': d1 has both (title), d4 has spark only ->
        # only d1 survives conjunctive matching
        rows = self._topk(corpus, query="spark shuffle")
        assert [r.doc_id for r in rows] == [1]

    def test_equal_weights_no_norm_reduces_to_single_field_ratio(
        self, spark
    ):
        """With w=1 and b=0 for both fields, tfw is the plain combined
        tf — the field split is invisible to the score."""
        from documents_vector_search_spark.operators.bm25 import bm25f_topk

        corpus = spark.createDataFrame(
            [(1, "q q", "q"), (2, "q", "")],
            "doc_id long, title string, body string",
        )
        rows = bm25f_topk(
            corpus,
            "q",
            10,
            fields={"title": F.col("title"), "body": F.col("body")},
            weights={"title": 1.0, "body": 1.0},
            field_b={"title": 0.0, "body": 0.0},
        ).collect()
        import math

        idf = math.log(0.5 / 2.5)
        got = {r.doc_id: r.score for r in rows}
        assert got[1] == round(idf * 3 / (1.2 + 3), 6)
        assert got[2] == round(idf * 1 / (1.2 + 1), 6)


class TestBm25fServing:
    BM25F_ROWS = [
        ("d1", "spark shuffle", "a join b join c"),
        ("d2", "alpha beta", "spark spark join x y z"),
        ("d3", "gamma delta", "e f g h join"),
        ("d4", "spark join", "spark runs fast join join spark data"),
        ("d5", "iota kappa", "m n o p q r"),
        ("d6", "lambda mu", "r s t u v w"),
    ]

    @staticmethod
    def _bm25f_docs(spark, rows):
        return spark.createDataFrame(
            [
                (
                    rid,
                    f"doc://{rid}",
                    {"lang": "en"},
                    f"{title}\n\n{body}",
                    "2024-03-01 00:00:00",
                    "golden",
                )
                for rid, title, body in rows
            ],
            "id string, url string, metadata map<string,string>, "
            "text string, last_modified_at string, source_type string",
        ).withColumn(
            "last_modified_at", F.col("last_modified_at").cast("timestamp")
        )

    @staticmethod
    def _bm25f_expected(spark, rows, query="spark join", k=10):
        from documents_vector_search_spark.operators.bm25 import bm25f_topk

        flat = spark.createDataFrame(
            rows, "doc_id string, title string, body string"
        )
        return [
            (r.doc_id, r.score)
            for r in bm25f_topk(
                flat,
                query,
                k,
                fields={"title": F.col("title"), "body": F.col("body")},
                weights={"title": 2.0, "body": 1.0},
                field_b={"title": 0.5, "body": 0.75},
                id_col="doc_id",
            ).collect()
        ]

    @pytest.fixture(scope="class")
    def bm25f_coll(self, spark, tmp_path_factory):
        """BM25F_ROWS built once per (chunk_size, chunk_overlap), read-
        only: a test that writes copies it first (``_bm25f_copy``)."""
        from documents_vector_search_spark.collection import (
            Collection,
            create_collection,
        )

        built = {}

        def get(chunk_size, chunk_overlap):
            key = (chunk_size, chunk_overlap)
            if key not in built:
                base = str(tmp_path_factory.mktemp("bm25f"))
                coll = Collection(spark, base, "f")
                create_collection(
                    coll,
                    self._bm25f_docs(spark, self.BM25F_ROWS),
                    chunk_size=chunk_size,
                    chunk_overlap=chunk_overlap,
                    title_from_text=True,
                )
                built[key] = coll
            return built[key]

        return get

    @staticmethod
    def _bm25f_copy(spark, src, tmp_path, name):
        import shutil

        from documents_vector_search_spark.collection import Collection

        shutil.copytree(src.root, tmp_path / name)
        return Collection(spark, str(tmp_path), name)

    @pytest.mark.parametrize(
        "chunk_size,chunk_overlap",
        [
            (1000, 0),  # one body chunk per doc
            (12, 0),  # multi-chunk bodies, no overlap
            (12, 5),  # multi-chunk bodies WITH overlap: chunk-derived
            # tf/fl would double-count overlap tokens — exactness comes
            # from the document-level field_postings table
        ],
    )
    def test_collection_bm25f_matches_adhoc_operator(
        self, spark, bm25f_coll, chunk_size, chunk_overlap
    ):
        """searcher.search_documents_bm25f over a chunk-0-is-title
        collection must equal bm25f_topk over the same corpus with the
        title/body split done by hand — same fields, same stats, same
        math — for single- and multi-chunk bodies and ANY overlap (the
        serving index is the document-level field_postings table, built
        from the document text, not from overlapping chunks)."""
        from documents_vector_search_spark.collection import (
            CollectionSearcher,
        )

        rows = self.BM25F_ROWS
        coll = bm25f_coll(chunk_size, chunk_overlap)
        got = [
            (r.document_id, r.score)
            for r in CollectionSearcher(coll).search_documents_bm25f(
                "spark join", k=10
            ).collect()
        ]
        expected = self._bm25f_expected(spark, rows)
        assert got == expected and got  # non-empty, identical order+scores

    def test_bm25f_exact_after_update_and_delete(
        self, spark, bm25f_coll, tmp_path
    ):
        """field_postings and the manifest's fieldStats stay exact
        through the incremental paths: after an update (one changed +
        one new doc) and a delete, serving still equals bm25f_topk over
        the corpus' CURRENT state, and fieldStats equals a recount."""
        from documents_vector_search_spark.collection import (
            CollectionSearcher,
        )
        from documents_vector_search_spark.collection.updater import (
            delete_documents,
            update_collection,
        )

        rows = self.BM25F_ROWS
        coll = self._bm25f_copy(spark, bm25f_coll(12, 5), tmp_path, "fu")

        # replace d2 (body gains a spark), add d7
        changed = [
            ("d2", "alpha beta", "spark spark spark join x y"),
            ("d7", "nu xi spark", "join join brand new spark doc"),
        ]
        update_collection(coll, self._bm25f_docs(spark, changed))
        current = {r[0]: r for r in rows} | {r[0]: r for r in changed}
        delete_documents(coll, ["d3"])
        del current["d3"]

        searcher = CollectionSearcher(coll)
        got = [
            (r.document_id, r.score)
            for r in searcher.search_documents_bm25f("spark join", k=10)
            .collect()
        ]
        expected = self._bm25f_expected(spark, list(current.values()))
        assert got == expected and got

        # manifest fieldStats == exact recount from the live table
        from documents_vector_search_spark.collection.updater import (
            _field_stats_from_table,
        )

        assert coll.manifest().fieldStats == _field_stats_from_table(coll)

    def test_bm25f_legacy_collection_without_field_postings(
        self, spark, bm25f_coll, tmp_path
    ):
        """Collections created before field_postings existed still
        serve BM25F off the chunk-derived path: with overlap 0 and
        whole-field chunks the approximation is exact, so it must match
        the operator; the searcher must not touch the absent table."""
        import shutil

        from documents_vector_search_spark.collection import (
            CollectionSearcher,
        )

        rows = self.BM25F_ROWS
        coll = self._bm25f_copy(spark, bm25f_coll(1000, 0), tmp_path, "fl")
        # simulate a pre-field_postings collection
        shutil.rmtree(coll.root / "field_postings")
        m = coll.manifest()
        m.fieldStats = None
        coll.save_manifest(m)

        got = [
            (r.document_id, r.score)
            for r in CollectionSearcher(coll).search_documents_bm25f(
                "spark join", k=10
            ).collect()
        ]
        expected = self._bm25f_expected(spark, rows)
        assert got == expected and got

    def test_metadata_filter_restricts_candidates(self, spark, tmp_path):
        from documents_vector_search_spark.collection import (
            Collection,
            CollectionSearcher,
            create_collection,
        )

        docs = spark.createDataFrame(
            [
                ("d1", "doc://d1", {"lang": "en"}, "spark tuning\n\nspark x",
                 "2024-03-01 00:00:00", "s"),
                ("d2", "doc://d2", {"lang": "de"}, "spark intern\n\nspark y",
                 "2024-03-01 00:00:00", "s"),
                ("d3", "doc://d3", {"lang": "en"}, "other\n\nwords here",
                 "2024-03-01 00:00:00", "s"),
            ],
            "id string, url string, metadata map<string,string>, "
            "text string, last_modified_at string, source_type string",
        ).withColumn(
            "last_modified_at", F.col("last_modified_at").cast("timestamp")
        )
        coll = Collection(spark, str(tmp_path), "ff")
        create_collection(
            coll, docs, chunk_size=1000, chunk_overlap=0, title_from_text=True
        )
        got = [
            r.document_id
            for r in CollectionSearcher(coll).search_documents_bm25f(
                "spark", metadata_filter='lang = "en"'
            ).collect()
        ]
        assert got == ["d1"]

    def test_batch_matches_per_query(self, spark, tmp_path):
        """search_documents_bm25f_many == per-query
        search_documents_bm25f for every query, including one that
        matches nothing."""
        from documents_vector_search_spark.collection import (
            Collection,
            CollectionSearcher,
            create_collection,
        )

        docs = spark.createDataFrame(
            [
                ("d1", "doc://d1", {"lang": "en"},
                 "spark tuning\n\nspark join x", "2024-03-01 00:00:00", "s"),
                ("d2", "doc://d2", {"lang": "de"},
                 "join guide\n\njoin join y", "2024-03-01 00:00:00", "s"),
                ("d3", "doc://d3", {"lang": "en"},
                 "skew notes\n\nsalting skew z", "2024-03-01 00:00:00", "s"),
                ("d4", "doc://d4", {"lang": "en"},
                 "misc\n\nwords only here", "2024-03-01 00:00:00", "s"),
            ],
            "id string, url string, metadata map<string,string>, "
            "text string, last_modified_at string, source_type string",
        ).withColumn(
            "last_modified_at", F.col("last_modified_at").cast("timestamp")
        )
        coll = Collection(spark, str(tmp_path), "fb")
        create_collection(
            coll, docs, chunk_size=1000, chunk_overlap=0, title_from_text=True
        )
        s = CollectionSearcher(coll)
        queries = {
            "a": "spark join", "b": "salting skew", "c": "nomatchterm",
        }
        batch = s.search_documents_bm25f_many(queries, k=10).collect()
        by_qid = {}
        for r in batch:
            by_qid.setdefault(r.qid, []).append((r.document_id, r.score))
        for qid, q in queries.items():
            single = [
                (r.document_id, r.score)
                for r in s.search_documents_bm25f(q, k=10).collect()
            ]
            assert by_qid.get(qid, []) == single, qid
        assert by_qid.get("a") and by_qid.get("b") and "c" not in by_qid


class TestZorderCollection:
    @pytest.fixture(scope="class")
    def zgrid(self, spark, tmp_path_factory):
        """The 64x64 grid created once with the documents table
        Z-ordered on (x, y); tests that mutate it work on a copy."""
        from documents_vector_search_spark.collection import (
            Collection,
            create_collection,
        )

        coll = Collection(spark, str(tmp_path_factory.mktemp("zgrid")), "zc")
        create_collection(
            coll, self._grid_docs(spark), update_buckets=2,
            zorder_by=("x", "y"), zorder_files=16,
        )
        return coll

    @staticmethod
    def _copy(spark, src, tmp_path, name):
        import shutil

        from documents_vector_search_spark.collection import Collection

        shutil.copytree(src.root, tmp_path / name)
        return Collection(spark, str(tmp_path), name)

    @staticmethod
    def _grid_docs(spark, n=4096, side=64):
        return spark.range(n).select(
            F.concat(F.lit("d"), F.col("id")).alias("id"),
            F.concat(F.lit("doc://"), F.col("id")).alias("url"),
            F.create_map(F.lit("k"), F.lit("v")).alias("metadata"),
            F.concat(F.lit("text body "), F.col("id")).alias("text"),
            F.to_timestamp(F.lit("2024-03-01 00:00:00")).alias(
                "last_modified_at"
            ),
            F.lit("grid").alias("source_type"),
            (F.col("id") % side).cast("int").alias("x"),
            (F.col("id") / side).cast("int").alias("y"),
        )

    def test_create_zorder_by_skips_files_and_records_manifest(
        self, spark, tmp_path, zgrid
    ):
        """create_collection(zorder_by=(x, y)) must leave the DOCUMENTS
        table's parquet files with compact min/max boxes in BOTH
        columns — MEASURED via the footer inspector against the same
        corpus created without the option — and record the layout in
        the manifest for compaction."""
        from documents_vector_search_spark.collection import (
            Collection,
            create_collection,
        )

        docs = self._grid_docs(spark)
        zc = zgrid
        # baseline: same corpus hash-scrambled (a spark.range source
        # arrives y-ordered, which would make the baseline accidentally
        # clustered) — every file then spans nearly the full grid
        lc = Collection(spark, str(tmp_path), "lc")
        create_collection(lc, docs.repartition(32, "id"), update_buckets=2)

        # z-tile-aligned 16x16 box (16 files over a 64x64 grid = one
        # aligned quadrant per file)
        box = dict(col_a="x", lo_a=32, hi_a=47, col_b="y", lo_b=32, hi_b=47)
        z_frac = file_minmax_overlap_fraction(zc.table_path("documents"), **box)
        l_frac = file_minmax_overlap_fraction(lc.table_path("documents"), **box)
        assert z_frac <= 0.5, z_frac
        assert l_frac == 1.0, l_frac  # unordered layout: every file hit

        cfg = zc.manifest().converter["zorder"]
        assert cfg == {
            "table": "documents", "cols": ["x", "y"], "bits": 16,
            "files": 16,
        }
        # layout is lossless and searchable
        assert zc.read("documents").count() == 4096

    def test_compact_restores_clustering_after_update(
        self, spark, tmp_path, zgrid
    ):
        """An update fragments the rewritten buckets (plain merge
        writes); compact_collection must re-cluster them from the
        manifest record so the skipping boxes come back."""
        from documents_vector_search_spark.collection import (
            update_collection,
        )
        from documents_vector_search_spark.collection.compactor import (
            compact_collection,
        )

        coll = self._copy(spark, zgrid, tmp_path, "zu")
        batch = self._grid_docs(spark).filter(F.col("x") < 2).withColumn(
            "last_modified_at", F.to_timestamp(F.lit("2024-03-02 00:00:00"))
        )
        update_collection(coll, batch)
        report = compact_collection(
            coll, tables=["documents"], max_files_per_dir=1,
            output_files_per_dir=8,
        )
        assert "documents" in report
        box = dict(col_a="x", lo_a=32, hi_a=47, col_b="y", lo_b=32, hi_b=47)
        frac = file_minmax_overlap_fraction(
            coll.table_path("documents"), **box
        )
        assert frac < 1.0, frac
        assert coll.read("documents").count() == 4096

    def test_zorder_update_staging_is_bounded_and_compactable(
        self, spark, tmp_path, zgrid
    ):
        """The full z-order lifecycle: create → update/delete → compact.
        Updates pre-cluster the z-order table's rewritten buckets like
        every other table — ONE file per partition directory, so the
        between-compaction file count is bounded at the optimum — and
        record the rewritten buckets as clustering-degraded in the
        manifest (updater._record_zorder_degraded). compact_collection
        must (a) keep results exactly identical, (b) detect the
        degraded buckets from the manifest record (file counts can no
        longer signal them), (c) restore the z-order clustering, and
        (d) clear the record."""
        from documents_vector_search_spark.collection import (
            delete_documents,
            update_collection,
        )
        from documents_vector_search_spark.collection.compactor import (
            bucket_file_counts,
            compact_collection,
        )

        coll = self._copy(spark, zgrid, tmp_path, "zb")
        batch = self._grid_docs(spark).filter(F.col("x") < 4).withColumn(
            "text", F.concat(F.lit("v2 "), F.col("text"))
        ).withColumn(
            "last_modified_at",
            F.to_timestamp(F.lit("2024-03-02 00:00:00")),
        )
        update_collection(coll, batch)

        # merge semantics: updated rows carry the new text, row set
        # complete
        got = coll.read("documents")
        assert got.count() == 4096
        assert (
            got.filter(F.col("text").startswith("v2 ")).count()
            == batch.count()
        )

        # bounded staging: every rewritten bucket directory holds ONE
        # file (the same pre-clustered write every other table gets)
        counts = bucket_file_counts(
            Path(coll.table_path("documents"))
        )
        assert max(c["max_per_dir"] for c in counts.values()) == 1, counts
        # ...and the rewritten buckets are recorded for OPTIMIZE
        degraded = coll.manifest().converter["zorder"]["degraded_pbs"]
        assert degraded, "update must record its buckets as degraded"

        # a follow-up delete keeps the bound and extends the record
        victim = [r.id for r in batch.select("id").limit(5).collect()]
        delete_documents(coll, victim)
        counts = bucket_file_counts(
            Path(coll.table_path("documents"))
        )
        assert max(c["max_per_dir"] for c in counts.values()) == 1, counts
        recorded = coll.manifest().converter["zorder"]["degraded_pbs"]
        assert set(degraded) <= set(recorded)

        # compaction detects the degraded buckets from the manifest
        # (all dirs are 1-file, so the file-count heuristic alone would
        # miss them), restores clustering, and clears the record
        report = compact_collection(
            coll, tables=["documents"], max_files_per_dir=1,
        )
        assert "documents" in report
        assert set(recorded) <= set(report["documents"]["buckets"])
        box = dict(col_a="x", lo_a=32, hi_a=47, col_b="y", lo_b=32, hi_b=47)
        frac = file_minmax_overlap_fraction(
            coll.table_path("documents"), **box
        )
        assert frac < 1.0, frac
        assert coll.read("documents").count() == 4096 - 5
        assert "degraded_pbs" not in coll.manifest().converter["zorder"]

    def test_compact_drops_degraded_record_of_vanished_bucket(
        self, spark, tmp_path
    ):
        """A degraded bucket whose every document was deleted is gone
        from disk: compaction has nothing to re-cluster there and must
        still drop it from the record (a lingering entry would never
        clear). max_files_per_dir is high so no other bucket counts as
        fragmented."""
        from documents_vector_search_spark.collection import (
            Collection,
            create_collection,
            delete_documents,
        )
        from documents_vector_search_spark.collection.compactor import (
            bucket_file_counts,
            compact_collection,
        )
        from documents_vector_search_spark.functions.hashing import (
            md5_hash64_py,
        )

        docs = self._grid_docs(spark, n=64, side=8)
        coll = Collection(spark, str(tmp_path), "zgone")
        create_collection(
            coll, docs, update_buckets=2, zorder_by=("x", "y"),
            zorder_files=4,
        )
        victims = [
            r.id for r in docs.select("id").collect()
            if md5_hash64_py(r.id) % 2 == 0
        ]
        delete_documents(coll, victims)
        assert coll.manifest().converter["zorder"]["degraded_pbs"] == [0]
        assert 0 not in bucket_file_counts(Path(coll.table_path("documents")))

        report = compact_collection(
            coll, tables=["documents"], max_files_per_dir=64
        )
        assert "documents" not in report
        assert "degraded_pbs" not in coll.manifest().converter["zorder"]


class TestZorderCLI:
    def test_zorder_command_rewrites_clustered(self, spark, tmp_path, capsys):
        import json

        from documents_vector_search_spark import cli

        src = str(tmp_path / "src")
        spark.range(4096).select(
            (F.col("id") % 64).cast("int").alias("a"),
            (F.col("id") / 64).cast("int").alias("b"),
        ).write.parquet(src)
        dst = str(tmp_path / "dst")
        rc = cli.main(
            ["zorder", "--input", src, "--output", dst,
             "--col-a", "a", "--col-b", "b", "--num-files", "16",
             "--format", "json"]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["rows"] == 4096
        # rewritten data is lossless and the key column is dropped
        df = spark.read.parquet(dst)
        assert df.count() == 4096 and "_z" not in df.columns
        # clustered: a box predicate on b alone overlaps < all files
        frac = file_minmax_overlap_fraction(
            dst, col_a="a", lo_a=0, hi_a=63, col_b="b", lo_b=0, hi_b=15
        )
        assert frac < 1.0, frac


class TestBucketedJoin:
    def test_cobucketed_join_has_zero_exchange(self, spark, tmp_path):
        """Two tables bucketed the same way on their join key must
        join with NO Exchange on either side (broadcast disabled so
        the join cannot cheat its way out of proving it) — the
        pre-bucketed fact⋈fact pattern write_bucketed exists for."""
        from documents_vector_search_spark.operators.layout import (
            write_bucketed,
        )

        left = spark.range(0, 2000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        )
        right = spark.range(0, 500).select(
            F.col("id").alias("k2"), (F.col("id") % 3).alias("w")
        )
        lt = write_bucketed(
            left, spark, "t_bkt_l", "k", 8, str(tmp_path / "l"),
            sort_cols=("k",),
        )
        rt = write_bucketed(
            right, spark, "t_bkt_r", "k2", 8, str(tmp_path / "r"),
            sort_cols=("k2",),
        )
        saved = {
            k: spark.conf.get(k, None)
            for k in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.autoBroadcastJoinThreshold",
            )
        }
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"
            )
            joined = lt.join(rt, lt["k"] == rt["k2"])
            assert joined.count() == 500
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
            spark.sql("DROP TABLE IF EXISTS t_bkt_l")
            spark.sql("DROP TABLE IF EXISTS t_bkt_r")

    def test_bucketed_write_is_lossless_one_file_per_bucket(
        self, spark, tmp_path
    ):
        from documents_vector_search_spark.operators.layout import (
            write_bucketed,
        )

        df = spark.range(0, 300).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        t = write_bucketed(
            df, spark, "t_bkt_solo", "k", 4, str(tmp_path / "solo")
        )
        try:
            assert t.count() == 300
            assert sorted(r["v"] for r in t.collect()) == [
                i * 2 for i in range(300)
            ]
            import glob as _glob

            files = _glob.glob(str(tmp_path / "solo" / "*.parquet"))
            assert len(files) == 4  # one file per bucket, no spray
        finally:
            spark.sql("DROP TABLE IF EXISTS t_bkt_solo")
