"""Hybrid collection search: vector + BM25 + RRF + group-by-document.

Spark-first re-expression of the reference's search entry point
(main/core/documents_collection_searcher.py:18-44): embed/tokenize the
query, per-index top-k with optional metadata filter, RRF across
indexes (skipped for a single index, lines 31-34), group chunk hits by
document preserving first-hit order (67-111), truncate.

Metadata filtering: the reference pushes the filter into each backend
(Chroma where-dict / SQLite subquery; FAISS can't filter at all). Here
ONE compiled predicate on the documents table produces the allowed
document set; chunk-level candidates are semi-joined against it before
scoring — Catalyst broadcasts the (small) filtered id set, so every
index gets filtered search with the same semantics (SURVEY §2.2 P10:
the capability guard becomes unnecessary).

Scale: both index scans are single-pass with TakeOrderedAndProject
top-k and RRF runs on ≤ k rows; the document grouping is a driver
merge of the ≤ k collected fused hits (CollectionSearcher.
_document_page), so the tail after the ranking pays no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from documents_vector_search_spark.collection.catalog import Collection
from documents_vector_search_spark.collection.partitioning import point_lookup
from documents_vector_search_spark.collection.vector_layout import VectorLayout
from documents_vector_search_spark.operators.bm25 import bm25_topk
from documents_vector_search_spark.operators.embedding import hash_embedding_py
from documents_vector_search_spark.operators.knn import knn_l2_auto
from documents_vector_search_spark.plans.filter_compiler import compile_filter

DEFAULT_INDEXES = ("vector", "bm25")

# tables the hybrid serving path reads, warmed at cached-searcher start
_WARM_TABLES = ("documents", "chunks", "embeddings", "postings")


class CollectionSearcher:
    def __init__(
        self,
        collection: Collection,
        rrf_k: int = 60,
        embedding_dim: int | None = None,
        field_types: dict[str, str] | None = None,
        cache_tables: bool = False,
        ann_probe_bits: int = 1,
        ivf_nprobe: int | None = None,
        pq_shortlist_factor: int = 16,
        sq8_shortlist_factor: int = 8,
    ):
        """``cache_tables`` persists the index tables in executor memory
        on first access — the serving-process pattern (the reference's
        MCP adapter holds loaded indexes the same way,
        collection_search_unified_mcp_adapter.py:176-189). Leave off for
        one-shot CLI queries.

        ``ann_probe_bits``: multi-probe Hamming radius when the
        collection was created with a bucket-partitioned ANN layout
        (create_collection(ann_planes=...)) — vector search then prunes
        to the probe buckets at the Parquet partition level instead of
        scanning every embedding.

        ``ivf_nprobe`` overrides the manifest's recorded probe count for
        IVF layouts (create_collection(ivf_nlist=...)) — more probes =
        higher recall, proportionally more partitions scanned.

        ``pq_shortlist_factor``: for IVFPQ layouts (pq_m=...), the ADC
        shortlist is this many × k before exact re-rank. The default 16
        absorbs ADC ties — with small codebooks, same-code rows tie
        exactly, so a k-sized shortlist would be an arbitrary slice of
        the tied band; 16k ids is still a trivial broadcast and holds
        the recall contract (tests/test_ann_recall.py).

        ``sq8_shortlist_factor``: for SQ8 layouts (sq8=True), the
        decoded-distance shortlist is this many × k before exact
        re-rank. SQ8 keeps per-dimension resolution, so ties are rare
        and a smaller factor suffices (operators/sq.py)."""
        if rrf_k < 1:
            raise ValueError("rrf_k must be >= 1")
        self.collection = collection
        self._manifest = collection.checked_manifest()
        self.rrf_k = rrf_k
        # checked against the manifest's recorded dim on use (see the
        # embedding_dim property): a mismatching arg RAISES instead of
        # silently reconstructing different LSH hyperplanes / probing
        # wrong IVF centroids
        self._embedding_dim_arg = embedding_dim
        self.field_types = field_types or {}
        self._cache_tables = cache_tables
        self._cached: dict[str, DataFrame] = {}
        self.ann_probe_bits = ann_probe_bits
        self.ivf_nprobe = ivf_nprobe
        self.pq_shortlist_factor = pq_shortlist_factor
        self.sq8_shortlist_factor = sq8_shortlist_factor
        self._vector_layout: VectorLayout | None = None
        if cache_tables:
            self._warm_cache()

    def _warm_cache(self) -> None:
        """Materialize the executor-memory cache of the tables the
        hybrid serving path reads (documents, chunks, embeddings,
        postings) NOW, as concurrent jobs from a thread pool — the
        serving-process startup pattern (pay at construction, not on
        the first query). Without this the first search's job
        materializes each persisted table lazily and SERIALLY as its
        plan first touches it; the fan-out overlaps the table scans
        exactly like the creator's build fan-out. One cheap count() per
        table forces the InMemoryRelation to cache all partitions (the
        cache stores the full table row set; count on top of it is
        free). field_postings still persists lazily on its first
        ``_read``."""
        from concurrent.futures import ThreadPoolExecutor

        # plan construction (and the _cached dict fill) stays serial —
        # _read is not thread-safe; only the materialization fans out
        frames = [
            self._read(t) for t in _WARM_TABLES if self.collection.has_table(t)
        ]
        with ThreadPoolExecutor(max_workers=max(1, len(frames))) as pool:
            list(pool.map(lambda df: df.count(), frames))

    @property
    def embedding_dim(self) -> int:
        """Vector dimension: the manifest's recorded
        ``converter.embedding.dim`` (a collection knows how it was
        embedded); an explicit constructor arg is validated against
        it."""
        recorded = int(self._manifest.converter["embedding"]["dim"])
        if (
            self._embedding_dim_arg is not None
            and recorded != self._embedding_dim_arg
        ):
            raise ValueError(
                f"embedding_dim={self._embedding_dim_arg} does not match "
                f"the collection's recorded dim={recorded}; searching "
                "with a different dim would derive different "
                "hyperplanes/probe buckets and silently return wrong "
                "results"
            )
        return recorded

    def _read(self, table: str) -> DataFrame:
        if not self._cache_tables:
            return self.collection.read(table)
        if table not in self._cached:
            self._cached[table] = self.collection.read(table).persist()
        return self._cached[table]

    def refresh(self) -> None:
        """Re-read (and re-check) the manifest and drop every cached
        table and config so the next search reads the collection's
        CURRENT state — a long-lived serving process must call this
        after an update / delete / refit / compact. Without it, cached
        frames keep serving the pre-mutation rows from executor memory,
        and worse: their pinned file list points at swapped-away
        parquet, so an evicted partition recompute FAILS on missing
        files. (The reference's MCP adapter side-steps this by
        recreating its searcher per collection load; refresh() is the
        in-place equivalent.)"""
        for df in self._cached.values():
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — refresh must not fail
                pass
        self._cached = {}
        self._manifest = self.collection.checked_manifest()
        self._vector_layout = None

    # -- internals ---------------------------------------------------------
    def _filtered_documents(self, metadata_filter: str | None) -> DataFrame:
        """The documents table under ``metadata_filter``'s one compiled
        predicate (plans/filter_compiler.py); all of it without one."""
        docs = self._read("documents")
        if not metadata_filter:
            return docs
        return docs.filter(compile_filter(
            metadata_filter,
            field_types=self.field_types,
            metadata_map_col="metadata",
            direct_fields={"id", "url", "text", "last_modified_at", "source_type"},
        ))

    def _allowed_chunks(self, metadata_filter: str | None) -> DataFrame | None:
        """Filter → allowed chunk ids (None = no restriction)."""
        if not metadata_filter:
            return None
        allowed_docs = self._filtered_documents(metadata_filter).select("id")
        chunks = self._read("chunks")
        return chunks.join(
            F.broadcast(allowed_docs),
            chunks["document_id"] == allowed_docs["id"],
            "left_semi",
        ).select("chunk_id")

    def _layout(self) -> VectorLayout:
        """The collection's vector layout (collection/vector_layout.py),
        read from the manifest once per :meth:`refresh`."""
        if self._vector_layout is None:
            self._vector_layout = VectorLayout.from_converter(
                self._manifest.converter
            )
        return self._vector_layout

    def _probes(self, layout: VectorLayout, qv) -> list:
        return layout.probes(qv, self.ann_probe_bits, self.ivf_nprobe)

    def _shortlist_size(self, layout: VectorLayout, k: int) -> int:
        """Codes shortlist length before the exact re-rank: PQ needs a
        wider one than SQ8 (see the constructor's factors)."""
        factor = (
            self.pq_shortlist_factor
            if layout.coder == "pq"
            else self.sq8_shortlist_factor
        )
        return max(k * factor, k)

    def _vector_scored(
        self, text: str, k: int, allowed: DataFrame | None,
        qv: list | None = None,
    ) -> DataFrame:
        """Top-k vector candidates as ``(chunk_id, score)`` — unranked.

        Scores follow the higher-is-better convention (negated L2), so
        every index branch ranks by the same ``score DESC, chunk_id ASC``
        order and the hybrid path can rank all branches in one window
        pass (see search_chunks). ``qv`` overrides the embedded query
        vector (the Rocchio-expanded path passes its updated vector);
        probing/pruning derives from whichever vector is used.

        On a pruned layout the probe filter is partition pruning on the
        ``bucket`` / ``cluster_id`` directory column (scans ~probes/
        partitions of the corpus); on a coded layout a shortlist ranked
        over the tiny ``codes`` column (PQ ADC or SQ8 decode) is what
        the exact kNN below re-ranks."""
        emb = self._read("embeddings")
        if qv is None:
            qv = hash_embedding_py(text, self.embedding_dim)
        layout = self._layout()
        if layout.part_col:
            emb = emb.filter(
                F.col(layout.part_col).isin(self._probes(layout, qv))
            )
        if allowed is not None:
            emb = emb.join(F.broadcast(allowed), "chunk_id", "left_semi")
        if layout.coder:
            # broadcast join: the shortlist is ≤ factor × k ids
            shortlist = layout.shortlist(
                emb, qv, self._shortlist_size(layout, k)
            )
            emb = emb.join(F.broadcast(shortlist), "chunk_id", "left_semi")
        # dim-dispatched scorer: expression form at narrow dims (codegen,
        # oracle parity), vectorized numpy at ≥NUMPY_KNN_MIN_DIM — the
        # manifest's recorded dim decides via len(qv) (parity-pinned)
        hits = knn_l2_auto(emb, qv, k, id_col="chunk_id", vector_col="vector")
        # negate L2 so "higher is better" like every other branch; rank
        # by score DESC == distance ASC, ties by chunk_id
        return hits.select(
            "chunk_id", (-F.col("distance")).alias("score")
        )

    def _vector_scored_expanded(
        self, text: str, k: int, allowed: DataFrame | None,
        k_fb: int = 5,
    ) -> DataFrame:
        """Rocchio-expanded vector candidates (operators/rocchio.py):
        the k_fb feedback vectors collect to the driver (bounded), the
        updated query vector is exact quantized arithmetic there, and
        the re-search is the same pruned scan with the new literal —
        the vector-branch twin of RM3 expansion."""
        from documents_vector_search_spark.operators.rocchio import (
            rocchio_vector,
        )

        qv0 = hash_embedding_py(text, self.embedding_dim)
        fb = self._vector_scored(text, k_fb, allowed)
        emb = self._read("embeddings")
        rows = (
            fb.join(emb.select("chunk_id", "vector"), "chunk_id")
            .select(
                "chunk_id",
                F.col("vector").cast("array<double>").alias("v"),
            )
            .collect()
        )
        feedback = [
            list(r.v) for r in sorted(rows, key=lambda r: r.chunk_id)
        ]
        q1 = rocchio_vector(qv0, feedback)
        return self._vector_scored(text, k, allowed, qv=q1)

    def _vector_hits(
        self, text: str, k: int, allowed: DataFrame | None
    ) -> DataFrame:
        """Ranked ``(chunk_id, rank, score)`` — the single-index shape."""
        return self._ranked(self._vector_scored(text, k, allowed))

    @staticmethod
    def _ranked(scored: DataFrame) -> DataFrame:
        """Attach a 0-based rank over ≤ k rows (window input is already
        top-k, so the single-partition sort is bounded by k)."""
        w = Window.orderBy(F.col("score").desc(), F.col("chunk_id").asc())
        return scored.select(
            "chunk_id", (F.row_number().over(w) - 1).alias("rank"), "score"
        )

    def _bm25_corpus_stats(self) -> tuple[int, float]:
        """(n_chunks, avgdl) — corpus constants, embedded as literals in
        every query plan. Read from the manifest (persisted at
        build/update time) so a searcher pays ZERO jobs for them."""
        m = self._manifest
        return int(m.numberOfChunks), float(m.avgChunkLength or 0.0)

    def _bm25_scored(
        self, text: str, k: int, allowed: DataFrame | None
    ) -> DataFrame:
        """Top-k BM25 candidates as ``(chunk_id, score)`` — unranked."""
        # corpus stats stay WHOLE-INDEX; `allowed` restricts only the
        # scored candidates — the reference's FTS5 bm25() semantics
        # (filter narrows rows, statistics come from the full index)
        # every postings row carries its chunk's dl, and the corpus
        # stats are manifest literals: scoring needs no length table
        hits = bm25_topk(
            self._read("chunks"),  # sparkSession/tokenizer defaults only
            text,
            k,
            id_col="chunk_id",
            text_col="indexed_data",
            postings=self._read("postings"),
            candidates=allowed,
            corpus_stats=self._bm25_corpus_stats(),
        )
        return hits.select("chunk_id", "score")

    def _bm25_hits(self, text: str, k: int, allowed: DataFrame | None) -> DataFrame:
        """Ranked ``(chunk_id, rank, score)`` — the single-index shape."""
        return self._ranked(self._bm25_scored(text, k, allowed))

    def _ql_scored(
        self, text: str, k: int, allowed: DataFrame | None
    ) -> DataFrame:
        """Dirichlet query-likelihood candidates ``(chunk_id, score)``
        (operators/bm25.py::ql_dirichlet_topk) — the alternative
        lexical ranker (`ranker="ql"`). The collection token count
        embeds as a literal from the manifest (numberOfChunks ×
        avgChunkLength), so like BM25's corpus_stats the query pays
        ZERO stats jobs; same pruned-postings shape."""
        from documents_vector_search_spark.operators.bm25 import (
            ql_dirichlet_topk,
        )

        n_chunks, avgdl = self._bm25_corpus_stats()
        hits = ql_dirichlet_topk(
            self._read("chunks"),
            text,
            k,
            id_col="chunk_id",
            text_col="indexed_data",
            postings=self._read("postings"),
            candidates=allowed,
            coll_len=float(n_chunks) * float(avgdl),
        )
        return hits.select("chunk_id", "score")

    def _bm25f_field_stats(self) -> dict[str, float]:
        """Per-field average DOCUMENT field length {field: avgfl},
        averaged over documents where the field is non-empty
        (bm25f_topk's convention) — corpus constants embedded as
        literals in every BM25F plan, read from the manifest's
        create/update-maintained ``fieldStats`` (zero jobs, the
        avgChunkLength discipline)."""
        return {
            name: float(rec["sumFl"]) / float(rec["docs"])
            for name, rec in self._manifest.fieldStats.items()
            if rec.get("docs")
        }

    def search_documents_bm25f(
        self,
        text: str,
        k: int = 10,
        weights: dict[str, float] | None = None,
        field_b: dict[str, float] | None = None,
        metadata_filter: str | None = None,
        conjunctive: bool = True,
        round_to: int | None = 6,
    ) -> DataFrame:
        """DOCUMENT-level field-weighted ranking — ``(document_id,
        score)`` descending, ties on id. The field split is the
        collection's chunk topology itself: chunk 0 is the title
        (reference converter parity, creator.build_chunks), chunks 1..N
        are the body; BM25F (operators/bm25.py::bm25f_topk docstring
        for the math) combines per-field length-normalized weighted tfs
        per (document, term) BEFORE one k1 saturation.

        Plan shape: ONE term-filtered scan of the document-level
        field_postings table (tf, fl, and df all exact from the
        document text — see _bm25f_doc_pseudo), per-field averages
        embedded as manifest-backed literals, one TakeOrdered.

        ``metadata_filter`` restricts candidate documents (compiled
        predicate on the documents table, same mini-language as
        search()); corpus statistics stay whole-index, matching the
        FTS5-parity convention of the chunk-level rankers."""
        from documents_vector_search_spark.operators.bm25 import (
            B,
            K1,
            _query_terms,
        )

        weights = weights or {"title": 2.0, "body": 1.0}
        field_b = field_b or {"title": 0.5, "body": B}
        q_terms = _query_terms(text)
        if not q_terms:
            return (
                self._read("chunks")
                .select("document_id", F.lit(0.0).alias("score"))
                .limit(0)
            )
        pseudo, df_per_term, n_docs = self._bm25f_doc_pseudo(
            sorted(set(q_terms)), weights, field_b, metadata_filter
        )
        scored = pseudo.join(F.broadcast(df_per_term), "term")
        idf = F.log(
            (F.lit(n_docs) - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
        )
        term_score = idf * F.col("tfw") / (F.lit(float(K1)) + F.col("tfw"))
        agg = (
            scored.withColumn("term_score", term_score)
            .groupBy("document_id")
            .agg(
                F.sum("term_score").alias("_score"),
                F.count("*").alias("_matched_terms"),
            )
        )
        if conjunctive:
            agg = agg.filter(F.col("_matched_terms") == len(set(q_terms)))
        score = (
            F.round(F.col("_score"), round_to)
            if round_to is not None
            else F.col("_score")
        )
        return (
            agg.select("document_id", score.alias("score"))
            .orderBy(F.col("score").desc(), F.col("document_id").asc())
            .limit(k)
        )

    def _bm25f_doc_pseudo(
        self,
        all_terms: list[str],
        weights: dict[str, float],
        field_b: dict[str, float],
        metadata_filter: str | None,
    ):
        """Shared QUERY-INDEPENDENT core of the BM25F document rankers:
        the per-(document, term) combined pseudo-frequency ``tfw`` over
        the union term set, whole-index document-level ``df`` per term,
        and the document count. Single and batched searches both fan
        out from these — the expensive work (ONE pruned scan) happens
        ONCE however many queries share it.

        The source is the document-level ``field_postings`` table
        (operators/bm25.py build_field_postings) — built from the
        document TEXT at create/update time, so tf, fl, and df are
        exact under any chunk_overlap, and the whole query is one
        term-filtered scan with no chunk-meta join at all."""
        from documents_vector_search_spark.operators.bm25 import B

        tf = (
            self._read("field_postings")
            .filter(F.col("term").isin(all_terms))
            .select("document_id", "field", "term", "tf", "fl")
        )
        doc_term = tf.select("document_id", "term")

        if metadata_filter:
            allowed_docs = self._filtered_documents(metadata_filter).select(
                F.col("id").alias("document_id")
            )
            tf = tf.join(F.broadcast(allowed_docs), "document_id", "left_semi")

        avgfl = self._bm25f_field_stats()
        w_expr = F.coalesce(
            *[
                F.when(F.col("field") == name, F.lit(float(w)))
                for name, w in weights.items()
            ],
            F.lit(0.0),
        )
        b_expr = F.coalesce(
            *[
                F.when(F.col("field") == name, F.lit(float(b)))
                for name, b in field_b.items()
            ],
            F.lit(B),
        )
        avgfl_expr = F.coalesce(
            *[
                F.when(F.col("field") == name, F.lit(float(v)))
                for name, v in avgfl.items()
            ],
            F.lit(1.0),
        )
        contrib = (w_expr * F.col("tf")) / (
            1 - b_expr + b_expr * F.col("fl") / avgfl_expr
        )
        pseudo = (
            tf.withColumn("contrib", contrib)
            .groupBy("document_id", "term")
            .agg(F.sum("contrib").alias("tfw"))
        )

        # document-level df over the whole index: computed from the
        # UNRESTRICTED matched set so a metadata filter narrows
        # candidates without changing corpus statistics (the engine's
        # FTS5-parity convention)
        df_per_term = (
            doc_term.distinct()
            .groupBy("term")
            .agg(F.count("*").cast("bigint").alias("_df"))
        )
        return pseudo, df_per_term, int(self._manifest.numberOfDocuments)

    def search_documents_bm25f_many(
        self,
        queries: dict[str, str] | list[str],
        k: int = 10,
        weights: dict[str, float] | None = None,
        field_b: dict[str, float] | None = None,
        metadata_filter: str | None = None,
        conjunctive: bool = True,
        round_to: int | None = 6,
    ) -> DataFrame:
        """Batched document-level BM25F — ``(qid, document_id, score)``
        per-query descending, ties on id; list queries get qids
        ``q0..qN``. Q queries pay ONE pruned postings scan: the
        per-(document, term) pseudo-frequencies are query-independent,
        so the fan-out (a tiny broadcast ``(qid, term, n_terms)`` map)
        happens AFTER the expensive work, the same batch-evaluation
        shape as ``bm25_topk_batch``. Queries that tokenize to nothing
        are omitted. Batch == per-query pinned by pytest."""
        from documents_vector_search_spark.operators.bm25 import (
            B,
            K1,
            _query_terms,
        )

        weights = weights or {"title": 2.0, "body": 1.0}
        field_b = field_b or {"title": 0.5, "body": B}
        if isinstance(queries, list):
            queries = {f"q{i}": q for i, q in enumerate(queries)}
        q_terms = {
            qid: sorted(set(terms))
            for qid, terms in (
                (qid, _query_terms(q)) for qid, q in queries.items()
            )
            if terms
        }
        spark = self.collection.spark
        if not q_terms:
            return spark.createDataFrame(
                [], "qid string, document_id string, score double"
            )
        all_terms = sorted(set().union(*q_terms.values()))
        pseudo, df_per_term, n_docs = self._bm25f_doc_pseudo(
            all_terms, weights, field_b, metadata_filter
        )
        qmap = spark.createDataFrame(
            [
                (qid, term, len(terms))
                for qid, terms in sorted(q_terms.items())
                for term in terms
            ],
            ["qid", "term", "_n_terms"],
        )
        scored = pseudo.join(F.broadcast(df_per_term), "term").join(
            F.broadcast(qmap), "term"
        )
        idf = F.log(
            (F.lit(n_docs) - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
        )
        term_score = idf * F.col("tfw") / (F.lit(float(K1)) + F.col("tfw"))
        agg = (
            scored.withColumn("term_score", term_score)
            .groupBy("qid", "document_id")
            .agg(
                F.sum("term_score").alias("_score"),
                F.count("*").alias("_matched_terms"),
                F.max("_n_terms").alias("_n_terms"),
            )
        )
        if conjunctive:
            agg = agg.filter(F.col("_matched_terms") == F.col("_n_terms"))
        score = (
            F.round(F.col("_score"), round_to)
            if round_to is not None
            else F.col("_score")
        )
        ranked = agg.select("qid", "document_id", score.alias("score"))
        w = Window.partitionBy("qid").orderBy(
            F.col("score").desc(), F.col("document_id").asc()
        )
        return (
            ranked.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )

    def _positional_postings(self) -> DataFrame:
        """``(chunk_id, term, positions)`` of a collection whose manifest
        records the positional postings layout (``converter.phrase``);
        any other collection refuses phrase search."""
        if not self._manifest.converter.get("phrase"):
            raise ValueError(
                "collection has no positional postings — recreate with "
                "create_collection(positional_postings=True) to enable "
                "phrase search"
            )
        return self._read("postings").select("chunk_id", "term", "positions")

    def _phrase_scored(
        self, text: str, k: int, allowed: DataFrame | None
    ) -> DataFrame:
        """Top-k exact-phrase candidates as ``(chunk_id, score)`` —
        score = occurrence count (operators/phrase.py). Requires the
        positional postings layout
        (create_collection(positional_postings=True)); the query text
        IS the phrase, tokenized by the engine's one tokenizer. Same
        pruning contract as BM25: an In(term, ...) pushed filter on the
        term-sorted postings, then one groupBy(chunk_id) over only the
        phrase's postings rows."""
        from documents_vector_search_spark.operators.phrase import (
            phrase_match_counts,
            tokenize_phrase,
        )

        positional = self._positional_postings()
        terms = tokenize_phrase(text)
        if not terms:
            return positional.select(
                F.col("chunk_id"), F.lit(0.0).alias("score")
            ).limit(0)
        counts = phrase_match_counts(positional, terms, id_col="chunk_id")
        if allowed is not None:
            counts = counts.join(F.broadcast(allowed), "chunk_id", "left_semi")
        return (
            counts.select(
                "chunk_id", F.col("phrase_tf").cast("double").alias("score")
            )
            .orderBy(F.col("score").desc(), F.col("chunk_id").asc())
            .limit(k)
        )

    def more_like_this(
        self,
        document_id: str,
        k: int = 10,
        method: str = "vector",
        max_terms: int = 10,
        metadata_filter: str | None = None,
        round_to: int | None = 6,
    ) -> DataFrame:
        """Documents most similar to a STORED document — ``(document_id,
        score)`` descending, the source excluded. Beyond-reference
        serving surface (the reference can only query by text); both
        methods compose the engine's existing pruned paths:

        - ``method="vector"``: mean-pool the source's chunk vectors
          (a point lookup, _pb-pruned), probe the vector index with the
          pooled vector — the SAME ANN/IVF/SQ8 pruning as text queries
          (:meth:`_vector_scored` qv override) — and rank documents by
          their best chunk's negated-L2 score.
        - ``method="bm25"``: select the source's ``max_terms`` most
          informative terms (tf driver-side from ONE fetched document;
          df for just those candidate terms from the term-filtered
          document-level index — the Lucene MoreLikeThis recipe), then
          run a DISJUNCTIVE BM25F query over field_postings.
        """
        if method not in ("vector", "bm25"):
            raise ValueError(f"unknown more_like_this method: {method!r}")
        import re

        ub = int(self._manifest.converter["updateBuckets"])
        if method == "vector":
            own_chunks = point_lookup(
                self._read("chunks"), [document_id], ub, "document_id"
            ).select("chunk_id")
            own_vecs = (
                point_lookup(self._read("embeddings"), [document_id], ub, None)
                .join(F.broadcast(own_chunks), "chunk_id", "left_semi")
                .select("vector")
            )
            pooled = own_vecs.agg(
                F.array(
                    *[
                        F.avg(F.element_at("vector", i + 1))
                        for i in range(self.embedding_dim)
                    ]
                ).alias("qv")
            ).first()
            if pooled is None or pooled["qv"] is None or pooled["qv"][0] is None:
                raise KeyError(f"document not found: {document_id!r}")
            qv = [float(x) for x in pooled["qv"]]
            allowed = self._allowed_chunks(metadata_filter)
            pool = max(k * 5, 50)
            hits = self._vector_scored("", pool, allowed, qv=qv)
            meta = self._read("chunks").select("chunk_id", "document_id")
            best = (
                hits.join(meta, "chunk_id")
                .filter(F.col("document_id") != document_id)
                .groupBy("document_id")
                .agg(F.max("score").alias("_s"))
            )
            score = (
                F.round(F.col("_s"), round_to)
                if round_to is not None
                else F.col("_s")
            )
            return (
                best.select("document_id", score.alias("score"))
                .orderBy(F.col("score").desc(), F.col("document_id").asc())
                .limit(k)
            )

        # --- bm25: term selection, then disjunctive BM25F ----------------
        row = (
            point_lookup(self._read("documents"), [document_id], ub)
            .select("text")
            .first()
        )
        if row is None:
            raise KeyError(f"document not found: {document_id!r}")
        tokens = re.findall(r"[a-z0-9]+", (row["text"] or "").lower())
        if not tokens:
            return (
                self._read("documents")
                .select(F.col("id").alias("document_id"),
                        F.lit(0.0).alias("score"))
                .limit(0)
            )
        tf: dict[str, int] = {}
        for t in tokens:
            tf[t] = tf.get(t, 0) + 1
        candidates = sorted(tf)

        df_rows = (
            self._read("field_postings")
            .filter(F.col("term").isin(candidates))
            .select("document_id", "term")
            .distinct()
            .groupBy("term")
            .agg(F.count("*").alias("df"))
            .collect()
        )
        df_map = {r["term"]: int(r["df"]) for r in df_rows}
        n_docs = max(int(self._manifest.numberOfDocuments), 1)
        import math

        scored_terms = sorted(
            (
                (
                    -tf[t] * math.log(1 + n_docs / (1 + df_map.get(t, 0))),
                    t,
                )
                for t in candidates
            ),
        )[:max_terms]
        query = " ".join(t for _, t in scored_terms)
        hits = self.search_documents_bm25f(
            query,
            k=k + 1,
            metadata_filter=metadata_filter,
            conjunctive=False,
            round_to=round_to,
        )
        return (
            hits.filter(F.col("document_id") != document_id)
            .orderBy(F.col("score").desc(), F.col("document_id").asc())
            .limit(k)
        )

    def suggest(self, text: str, max_edits: int = 1) -> DataFrame:
        """Spell suggestions against THIS collection's vocabulary —
        ``(qraw, suggestion, ctf)`` per query term (operators/fuzzy.py;
        exact in-vocab terms suggest themselves, unknowns suggest the
        most frequent term within ``max_edits``, no candidate → NULL).

        Collections created with ``fuzzy_dictionary=True`` carry a
        materialized dictionary + deletion index
        (collection/fuzzy_artifacts.py): the probe is then a
        variant_bucket-PRUNED scan of a vocabulary-sized table.
        Otherwise the dictionary derives from the postings table per
        call (one map-side-combinable aggregate, cached with
        cache_tables) — fine ad-hoc, the artifact is the serving
        path."""
        from documents_vector_search_spark.operators.bm25 import (
            _query_terms,
        )
        from documents_vector_search_spark.operators.fuzzy import (
            build_term_dictionary,
            spell_corrections,
        )

        terms = _query_terms(text)
        fuzzy_cfg = self._manifest.converter.get("fuzzy")
        if fuzzy_cfg:
            from documents_vector_search_spark.collection.fuzzy_artifacts import (
                DELETION_INDEX_TABLE,
                read_deletion_index,
            )

            return spell_corrections(
                None,
                terms,
                max_edits=min(max_edits, int(fuzzy_cfg.get("maxEdits", 1))),
                prefer_exact=True,
                # base via _read (table cache); delta-log batches folded
                # in at call time so suggestions see the newest counts
                deletion_index=read_deletion_index(
                    self.collection, base=self._read(DELETION_INDEX_TABLE)
                ),
            )
        vocab = build_term_dictionary(self._read("postings"))
        return spell_corrections(
            vocab, terms, max_edits=max_edits, prefer_exact=True
        )

    def correct_query(self, text: str, max_edits: int = 1) -> str:
        """Typo-corrected query string: each term replaced by its
        suggestion, uncorrectable terms dropped, order preserved.
        Bounded driver round-trip (|query terms| rows) — same class as
        the RM3 feedback collect."""
        from documents_vector_search_spark.operators.bm25 import (
            _query_terms,
        )

        terms = _query_terms(text)
        if not terms:
            return text
        sug = {
            r["qraw"]: r["suggestion"] for r in self.suggest(text, max_edits).collect()
        }
        corrected = [sug.get(t) for t in terms]
        return " ".join(c for c in corrected if c)

    def correct_queries(
        self, texts: dict[str, str], max_edits: int = 1
    ) -> dict[str, str]:
        """Batch :meth:`correct_query`: ONE dictionary probe for the
        union of every query's terms (the suggestion frame already
        handles many terms at once), then each query rebuilds from the
        shared suggestion map — Q queries pay one correction job, not
        Q."""
        from documents_vector_search_spark.operators.bm25 import (
            _query_terms,
        )

        union_terms = sorted(
            {t for text in texts.values() for t in _query_terms(text)}
        )
        if not union_terms:
            return dict(texts)
        sug = {
            r["qraw"]: r["suggestion"]
            for r in self.suggest(" ".join(union_terms), max_edits).collect()
        }
        out = {}
        for qid, text in texts.items():
            corrected = [sug.get(t) for t in _query_terms(text)]
            out[qid] = " ".join(c for c in corrected if c)
        return out

    def rm3_weights(
        self,
        text: str,
        k_fb: int = 5,
        n_expand: int = 8,
        lam: float = 0.5,
        allowed: DataFrame | None = None,
    ) -> list[tuple[str, float]]:
        """RM3 expansion weights against THIS collection's index
        (operators/bm25.py::rm3_weights_from_feedback). Serving shape:
        the k_fb feedback chunks collect to the driver (bounded — each
        is one chunk), the relevance model is exact driver-side integer
        arithmetic, and the only index work is one term-filtered
        postings scan for the candidate terms' document frequencies."""
        from documents_vector_search_spark.operators.bm25 import (
            _query_terms,
            rm3_weights_from_feedback,
        )

        q_terms = _query_terms(text)
        if not q_terms:
            raise ValueError("query expansion needs a non-empty query")
        chunks = self._read("chunks")
        fb_rows = (
            self._bm25_scored(text, k_fb, allowed)
            .join(chunks.select("chunk_id", "indexed_data"), "chunk_id")
            .collect()
        )
        feedback = [(float(r.score), r.indexed_data) for r in fb_rows]
        import re

        cand_terms = sorted(
            {
                t
                for _, txt in feedback
                for t in re.split(r"[^a-z0-9]+", txt.lower())
                if t and t not in q_terms
            }
        )
        df_lookup: dict[str, int] = {}
        if cand_terms:
            df_lookup = {
                r.term: int(r.df)
                for r in self._read("postings")
                .filter(F.col("term").isin(cand_terms))
                .groupBy("term")
                .agg(F.count("*").alias("df"))
                .collect()
            }
        n_docs = self._bm25_corpus_stats()[0]
        return rm3_weights_from_feedback(
            feedback, q_terms, df_lookup, n_docs, n_expand, lam
        )

    def _bm25_scored_expanded(
        self, text: str, k: int, allowed: DataFrame | None
    ) -> DataFrame:
        """RM3-expanded BM25 candidates: compute the bounded weight set,
        then ONE partition-pruned weighted disjunctive pass over the
        postings (operators/bm25.py::bm25_weighted_topk)."""
        from documents_vector_search_spark.operators.bm25 import (
            bm25_weighted_topk,
        )

        weights = self.rm3_weights(text, allowed=allowed)
        return bm25_weighted_topk(
            weights,
            k,
            self._read("postings"),
            id_col="chunk_id",
            candidates=allowed,
            corpus_stats=self._bm25_corpus_stats(),
        ).select("chunk_id", "score")

    # -- public ----------------------------------------------------------
    def search_chunks(
        self,
        text: str,
        max_chunks: int = 15,
        indexes: tuple[str, ...] = DEFAULT_INDEXES,
        metadata_filter: str | None = None,
        expand_query: bool = False,
        ranker: str = "bm25",
    ) -> DataFrame:
        """Fused chunk ranking: (chunk_id, rank, score).

        ``ranker`` selects the lexical scoring function for the keyword
        branch: "bm25" (default, reference semantics) or "ql"
        (Dirichlet query likelihood — disjunctive candidates, absent
        terms smoothed). Expansion (RM3) is BM25-specific, so
        expand_query with ranker="ql" is rejected.

        ``expand_query`` turns on relevance feedback in BOTH branches:
        the BM25 branch runs RM3 pseudo-relevance feedback
        (:meth:`_bm25_scored_expanded`), the vector branch runs a
        Rocchio query-vector update (:meth:`_vector_scored_expanded`).

        Hybrid path: every branch emits the same ``(chunk_id, score)``
        higher-is-better shape, so per-branch ranks come from ONE window
        partitioned by branch tag over the unioned top-k lists (one
        exchange of ≤ n_branches·k rows) instead of one global-sort
        window per branch. RRF contributions then fuse in the same plan
        — semantics identical to operators/rrf.py::rrf_fuse (score
        rounded to 6 before the descending order, ties by id ascending),
        which remains the standalone operator for external lists."""
        unknown = set(indexes) - {"vector", "bm25", "phrase"}
        if unknown:
            raise ValueError(f"unknown indexes: {sorted(unknown)}")
        if ranker not in ("bm25", "ql"):
            raise ValueError(f"unknown ranker: {ranker!r}")
        if ranker == "ql" and expand_query:
            raise ValueError(
                "expand_query is RM3 (BM25-specific); it cannot "
                "combine with ranker='ql'"
            )
        allowed = self._allowed_chunks(metadata_filter)
        scored = []
        if "vector" in indexes:
            vec = (
                self._vector_scored_expanded(text, max_chunks, allowed)
                if expand_query
                else self._vector_scored(text, max_chunks, allowed)
            )
            scored.append(vec.withColumn("_src", F.lit("v")))
        if "bm25" in indexes:
            if ranker == "ql":
                bm = self._ql_scored(text, max_chunks, allowed)
            elif expand_query:
                bm = self._bm25_scored_expanded(text, max_chunks, allowed)
            else:
                bm = self._bm25_scored(text, max_chunks, allowed)
            scored.append(bm.withColumn("_src", F.lit("b")))
        if "phrase" in indexes:
            # exact-phrase branch: the query text is the phrase. No
            # expansion variant — expanding a phrase would change what
            # "exact" means, so expand_query leaves this branch as-is.
            scored.append(
                self._phrase_scored(text, max_chunks, allowed).withColumn(
                    "_src", F.lit("p")
                )
            )

        if len(scored) == 1:
            # single index: skip RRF, keep native scores (reference
            # documents_collection_searcher.py:31-34).
            # filter-on-rank, NOT .limit(): the limit's ordering here is
            # IMPLICIT in _ranked's row_number window, and a downstream
            # projection that drops `rank` lets Catalyst prune the
            # window + its sort, leaving a bare limit that keeps
            # arbitrary rows (caught by the diverse-search lam=1 parity
            # test). The filter references `rank`, so the window can
            # never be pruned away from under the row selection.
            fused = self._ranked(scored[0].drop("_src")).filter(
                F.col("rank") < max_chunks
            )
        else:
            unioned = scored[0]
            for df in scored[1:]:
                unioned = unioned.unionByName(df)
            w = Window.partitionBy("_src").orderBy(
                F.col("score").desc(), F.col("chunk_id").asc()
            )
            # row_number is 1-based, reference ranks are 0-based:
            # contrib = 1 / (rrf_k + rank + 1) = 1 / (rrf_k + row_number)
            contribs = unioned.select(
                "chunk_id",
                (
                    F.lit(1.0) / (F.lit(self.rrf_k) + F.row_number().over(w))
                ).alias("_contrib"),
            )
            fused_scores = contribs.groupBy("chunk_id").agg(
                F.round(F.sum("_contrib"), 6).alias("score")
            )
            # filter-on-rank, not .limit() — see the single-index branch
            fused = self._ranked(fused_scores).filter(
                F.col("rank") < max_chunks
            )
        return fused

    def search_chunks_diverse(
        self,
        text: str,
        max_chunks: int = 15,
        lam: float = 0.7,
        pool_factor: int = 3,
        indexes: tuple[str, ...] = DEFAULT_INDEXES,
        metadata_filter: str | None = None,
    ) -> DataFrame:
        """MMR-diversified fused ranking — ``(chunk_id, rank, score)``
        where score is the rounded MMR objective (operators/mmr.py,
        Carbonell & Goldstein 1998): a ``pool_factor × max_chunks``
        fused shortlist from :meth:`search_chunks` is joined to its
        chunk vectors and greedily re-ranked, trading relevance against
        redundancy to already-picked chunks. ``lam=1.0`` reproduces
        :meth:`search_chunks`' relevance order exactly (test-pinned);
        lower ``lam`` surfaces chunks from different regions of the
        embedding space — the standard fix for near-duplicate chunks
        crowding a result page. The sequential greedy touches only the
        bounded pool (retrieve-then-rerank), never the corpus."""
        from documents_vector_search_spark.operators.mmr import mmr_rerank

        # MATERIALIZE the shortlist before composing further: consumed
        # lazily, a downstream projection that drops `rank` lets
        # Catalyst prune the row_number window AND the sort under the
        # fused limit, and the limit then keeps ARBITRARY rows (caught
        # by the lam=1 parity test). localCheckpoint executes the
        # shortlist's own terminal plan — tens of rows, trivially cheap
        # — and hands downstream a fixed row set no optimizer rewrite
        # can change.
        pool = self.search_chunks(
            text, max_chunks * pool_factor, indexes, metadata_filter
        ).localCheckpoint()
        emb = self._read("embeddings").select("chunk_id", "vector")
        cands = pool.select("chunk_id", "score").join(emb, "chunk_id")
        out = mmr_rerank(
            cands,
            max_chunks,
            lam=lam,
            id_col="chunk_id",
            vector_col="vector",
            score_col="score",
        )
        # mmr ranks are 1-based; serving ranks are 0-based (reference
        # convention, see search_chunks)
        return out.select(
            "chunk_id",
            (F.col("rank") - 1).alias("rank"),
            F.col("mmr_score").alias("score"),
        )

    def search_chunks_many_diverse(
        self,
        texts: dict[str, str],
        max_chunks: int = 15,
        lam: float = 0.7,
        pool_factor: int = 3,
        indexes: tuple[str, ...] = DEFAULT_INDEXES,
        metadata_filter: str | None = None,
    ) -> DataFrame:
        """MMR-diversified fused ranking for MANY queries in one job:
        ``(qid, chunk_id, rank, score)``. The Q pools come from ONE
        batched :meth:`search_chunks_many` retrieval (one union-probe
        scan per index — not Q full passes), then each pool re-ranks
        with the SAME greedy as :meth:`search_chunks_diverse`
        (operators/mmr.mmr_rerank_grouped shares the single-pool code),
        so per-query results equal the single-query diverse path
        exactly (test-pinned). The rerank shuffles only Q·pool rows
        keyed by qid and runs the Q Arrow-batched greedies in parallel.
        """
        from documents_vector_search_spark.operators.mmr import (
            mmr_rerank_grouped,
        )

        # materialized bounded shortlist before composition — same
        # window-pruning hazard note as search_chunks_diverse
        pool = self.search_chunks_many(
            texts, max_chunks * pool_factor, indexes, metadata_filter
        ).localCheckpoint()
        emb = self._read("embeddings").select("chunk_id", "vector")
        cands = pool.select("qid", "chunk_id", "score").join(emb, "chunk_id")
        out = mmr_rerank_grouped(
            cands,
            max_chunks,
            lam=lam,
            group_col="qid",
            id_col="chunk_id",
            vector_col="vector",
            score_col="score",
        )
        return out.select(
            "qid",
            "chunk_id",
            (F.col("rank") - 1).alias("rank"),
            F.col("mmr_score").alias("score"),
        )

    def search_chunks_many(
        self,
        texts: dict[str, str],
        max_chunks: int = 15,
        indexes: tuple[str, ...] = DEFAULT_INDEXES,
        metadata_filter: str | None = None,
        ranker: str = "bm25",
    ) -> DataFrame:
        """Fused chunk ranking for MANY queries in one job:
        ``(qid, chunk_id, rank, score)`` — the batch-serving primitive
        (offline relevance sweeps, eval-set labeling). Q queries cost
        ONE pass per index instead of Q: vector search batches through
        knn_l2_batch (one embeddings scan, candidates-only shuffle),
        BM25 through bm25_topk_batch (one postings scan pruned to the
        union of the queries' term buckets). On flat layouts per-query
        results are IDENTICAL to :meth:`search_chunks` (pinned by
        tests); on SQ8 layouts the batch path ranks exactly instead of
        via the codes shortlist, so recall can only improve.

        The vector side is ONE pipeline for every layout
        (collection/vector_layout.py): embed the queries; on a pruned
        layout scan the union of their probe partitions once (directory
        pruning on bucket/cluster_id), so overlapping probes are read
        once instead of once per query; join the allowed chunks; on a
        pruned CODED layout build every query's shortlist from one
        codes-only scan (PQ ADC tables or SQ8 decode, the same rounded
        math as the per-query plan, so identical shortlist sets); then
        one exact batched re-rank, each query masked to its own probes.
        Per-query results match :meth:`search_chunks`'s deterministic
        ANN contract exactly on every constructible layout (pinned by
        tests)."""
        unknown = set(indexes) - {"vector", "bm25", "phrase"}
        if unknown:
            raise ValueError(f"unknown indexes: {sorted(unknown)}")
        if ranker not in ("bm25", "ql"):
            raise ValueError(f"unknown ranker: {ranker!r}")
        allowed = self._allowed_chunks(metadata_filter)
        scored = []
        if "vector" in indexes:
            from documents_vector_search_spark.operators.knn import (
                knn_l2_batch,
                knn_l2_batch_grouped,
            )

            layout = self._layout()
            qvecs = {
                qid: hash_embedding_py(text, self.embedding_dim)
                for qid, text in texts.items()
            }
            emb = self._read("embeddings")
            probes = None
            if layout.part_col:
                # ONE scan of the union of the queries' probe partitions
                probes = {
                    qid: self._probes(layout, qv) for qid, qv in qvecs.items()
                }
                union = sorted({p for ps in probes.values() for p in ps})
                emb = emb.filter(F.col(layout.part_col).isin(union))
            if allowed is not None:
                emb = emb.join(F.broadcast(allowed), "chunk_id", "left_semi")
            if probes is not None and layout.coder:
                # codes-only scan → every query's shortlist over its own
                # probes, then one exact re-rank of the shortlisted rows
                shortlist = layout.batch_shortlist(
                    emb, qvecs, probes,
                    self._shortlist_size(layout, max_chunks),
                )
                vec = knn_l2_batch_grouped(
                    emb.select("chunk_id", "vector").join(
                        F.broadcast(shortlist), "chunk_id"
                    ),
                    qvecs, max_chunks, id_col="chunk_id", vector_col="vector",
                )
            else:
                # flat (SQ8 too: ranked exactly) or pruned: the probe
                # masks keep each query to its own partitions
                vec = knn_l2_batch(
                    emb, qvecs, max_chunks, id_col="chunk_id",
                    vector_col="vector", probes=probes,
                    part_col=layout.part_col,
                )
            vec = vec.select(
                "qid", "chunk_id", (-F.col("distance")).alias("score")
            )
            scored.append(vec.withColumn("_src", F.lit("v")))
        if "bm25" in indexes:
            if ranker == "ql":
                # batched QL: one union-pruned postings scan, manifest
                # coll_len literal — per-query == single-query pinned
                from documents_vector_search_spark.operators.bm25 import (
                    ql_dirichlet_topk_batch,
                )

                n_chunks, avgdl = self._bm25_corpus_stats()
                bm = ql_dirichlet_topk_batch(
                    texts,
                    max_chunks,
                    postings=self._read("postings"),
                    id_col="chunk_id",
                    coll_len=float(n_chunks) * float(avgdl),
                    candidates=allowed,
                )
            else:
                from documents_vector_search_spark.operators.bm25 import (
                    bm25_topk_batch,
                )

                bm = bm25_topk_batch(
                    texts,
                    max_chunks,
                    postings=self._read("postings"),
                    id_col="chunk_id",
                    corpus_stats=self._bm25_corpus_stats(),
                    candidates=allowed,
                )
            scored.append(bm.withColumn("_src", F.lit("b")))
        if "phrase" in indexes:
            # batched exact-phrase branch: Q phrases share ONE
            # positional-postings scan filtered to the union of their
            # terms (operators/phrase.py::phrase_topk_batch) — same
            # amortization shape as bm25_topk_batch
            from documents_vector_search_spark.operators.phrase import (
                phrase_topk_batch,
            )

            positional = self._positional_postings()
            if allowed is not None:
                positional = positional.join(
                    F.broadcast(allowed), "chunk_id", "left_semi"
                )
            ph = phrase_topk_batch(
                positional, texts, max_chunks, id_col="chunk_id"
            ).select(
                "qid",
                "chunk_id",
                F.col("phrase_tf").cast("double").alias("score"),
            )
            scored.append(ph.withColumn("_src", F.lit("p")))

        w_src = Window.partitionBy("_src", "qid").orderBy(
            F.col("score").desc(), F.col("chunk_id").asc()
        )
        if len(scored) == 1:
            ranked = scored[0].select(
                "qid",
                "chunk_id",
                (F.row_number().over(w_src) - 1).alias("rank"),
                "score",
            )
            w_q = Window.partitionBy("qid").orderBy(
                F.col("rank").asc(), F.col("chunk_id").asc()
            )
            return ranked.withColumn(
                "_rn", F.row_number().over(w_q)
            ).filter(F.col("_rn") <= max_chunks).drop("_rn")
        unioned = scored[0]
        for df in scored[1:]:
            unioned = unioned.unionByName(df)
        contribs = unioned.select(
            "qid",
            "chunk_id",
            (
                F.lit(1.0) / (F.lit(self.rrf_k) + F.row_number().over(w_src))
            ).alias("_contrib"),
        )
        fused = contribs.groupBy("qid", "chunk_id").agg(
            F.round(F.sum("_contrib"), 6).alias("score")
        )
        w_q = Window.partitionBy("qid").orderBy(
            F.col("score").desc(), F.col("chunk_id").asc()
        )
        return (
            fused.withColumn("_rn", F.row_number().over(w_q))
            .filter(F.col("_rn") <= max_chunks)
            .select(
                "qid", "chunk_id", (F.col("_rn") - 1).alias("rank"), "score"
            )
        )

    def search_many(
        self,
        texts: dict[str, str],
        max_chunks: int = 15,
        max_documents: int | None = 10,
        indexes: tuple[str, ...] = DEFAULT_INDEXES,
        metadata_filter: str | None = None,
        diversify_lambda: float | None = None,
        pool_factor: int = 3,
        ranker: str = "bm25",
        fuzzy: bool = False,
    ) -> DataFrame:
        """Document-grouped batch search: :meth:`search` for MANY
        queries, keyed by ``qid`` — one ranking plan for all of them,
        then :meth:`search`'s driver-merged tail, grouped and limited
        per qid. ``diversify_lambda`` (None = off, same convention as
        :meth:`search`) swaps the fused chunk ranking for the batched
        MMR rerank (:meth:`search_chunks_many_diverse`) so Q diverse
        searches still pay one retrieval pass per index, not Q."""
        if fuzzy and texts:
            # ONE dictionary probe corrects every query (correct_queries)
            texts = self.correct_queries(texts)
        if diversify_lambda is not None:
            if ranker != "bm25":
                raise ValueError(
                    "diversify_lambda currently pools with the default "
                    "bm25 ranker; ranker='ql' cannot combine with it"
                )
            fused = self.search_chunks_many_diverse(
                texts, max_chunks, diversify_lambda, pool_factor,
                indexes, metadata_filter,
            )
        else:
            fused = self.search_chunks_many(
                texts, max_chunks, indexes, metadata_filter, ranker=ranker
            )
        return self._document_page(fused, max_documents)

    def search(
        self,
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
        fuzzy: bool = False,
        ranker: str = "bm25",
        document_offset: int = 0,
    ) -> DataFrame:
        """Document-grouped results ordered by first-hit rank
        (reference __build_results, documents_collection_searcher.py:67-111).

        Content flags mirror the reference's include options
        (documents_collection_searcher.py:96-109): ``include_chunk_text``
        adds a ``matched_chunk_texts`` array (rank order);
        ``include_document_text`` adds the full document text.

        ``diversify_lambda`` (None = off) routes the chunk ranking
        through :meth:`search_chunks_diverse` — MMR re-ranking that
        penalizes redundancy between returned chunks.

        ``include_snippets`` adds keyword-in-context columns
        (``snippet_line``, ``snippet``, ``snippet_hits``): each hit
        document's best matching line (operators/snippets.py), computed
        over the returned documents only.

        ``fuzzy`` spell-corrects the query against the collection
        vocabulary first (:meth:`correct_query`) — every branch
        (vector, bm25, phrase) then searches the corrected text.

        ``document_offset`` paginates: skip the first N documents of
        the grouped ordering (page p passes p × max_documents; deep
        pages want a proportionally larger max_chunks pool, since the
        chunk top-k bounds how many documents can be grouped at all).

        The call runs the chunk ranking and its chunk lookup now (a
        default hybrid search: 4 Spark jobs) and groups the ≤
        max_chunks hits on the driver; the returned frame is only the
        page's documents lookup, one job at ``collect``
        (:meth:`_document_page`).
        """
        if fuzzy and text:
            text = self.correct_query(text)
        if diversify_lambda is not None:
            if expand_query:
                raise ValueError(
                    "expand_query and diversify_lambda cannot combine "
                    "(the diverse ranking has its own retrieval pool)"
                )
            if ranker != "bm25":
                raise ValueError(
                    "diversify_lambda currently pools with the default "
                    "bm25 ranker; ranker='ql' cannot combine with it"
                )
            fused = self.search_chunks_diverse(
                text, max_chunks, lam=diversify_lambda, indexes=indexes,
                metadata_filter=metadata_filter,
            )
        else:
            fused = self.search_chunks(
                text, max_chunks, indexes, metadata_filter,
                expand_query=expand_query, ranker=ranker,
            )
        terms = None
        if include_snippets:
            from documents_vector_search_spark.operators.bm25 import _query_terms

            terms = _query_terms(text)
            if not terms:
                raise ValueError("include_snippets requires a non-empty query")
        return self._document_page(
            fused, max_documents, document_offset, include_chunk_text,
            include_document_text, terms,
        )

    def _document_page(
        self,
        fused: DataFrame,
        max_documents: int | None,
        offset: int = 0,
        chunk_texts: bool = False,
        document_text: bool = False,
        snippet_terms: list[str] | None = None,
    ) -> DataFrame:
        """The one document-grouped tail of :meth:`search` and
        :meth:`search_many`, merged on the driver: the fused ranking
        (≤ max_chunks rows per query) and, by one pushed ``chunk_id IN``
        lookup, its chunks' documents collect now; grouping by ``(qid,
        document)``, the ``(doc_rank, document_id)`` order and the
        ``offset`` / ``max_documents`` page run in Python. The returned
        frame is the lazy ``_pb``-pruned ``id IN`` lookup of the page's
        documents, their grouped values read from ONE JSON map literal
        (document id → an entry per query that hit it), ending in
        ``orderBy(...).limit(n)``: a TakeOrderedAndProject, with no
        exchange or sampling job."""
        import json
        from itertools import groupby

        keyed = "qid" in fused.columns
        chunks = self._read("chunks")
        hits = fused.select(
            F.col("qid") if keyed else F.lit("").alias("qid"),
            "chunk_id", "rank", "score",
        ).collect()
        ids = sorted({h.chunk_id for h in hits})
        meta = {
            r.chunk_id: r
            for r in chunks.filter(F.col("chunk_id").isin(ids)).select(
                "chunk_id", "document_id", "chunk_number",
                *(["indexed_data"] if chunk_texts else []),
            ).collect()
        } if ids else {}
        groups: dict[tuple, dict] = {}
        # ranks are distinct within a query: this walks hits in rank
        # order, so a document ranks at its best chunk and lists its
        # chunk numbers in rank order (reference __build_results)
        for h in sorted(hits, key=lambda h: (h.qid, h.rank)):
            c = meta.get(h.chunk_id)
            if c is None:
                continue
            g = groups.setdefault((h.qid, c.document_id), {
                "qid": h.qid, "doc_rank": h.rank, "matched_chunks": [],
                "best_score": h.score, "n_chunks": 0,
            })
            g["matched_chunks"].append(c.chunk_number)
            g["best_score"] = max(g["best_score"], h.score)
            g["n_chunks"] += 1
            if chunk_texts:
                g.setdefault("matched_chunk_texts", []).append(c.indexed_data)
        ordered = sorted(
            groups.items(), key=lambda kv: (kv[0][0], kv[1]["doc_rank"], kv[0][1])
        )
        end = None if max_documents is None else offset + max_documents
        page: dict[str, list] = {}
        for _, per_query in groupby(ordered, key=lambda kv: kv[0][0]):
            for (_, doc), g in list(per_query)[offset:end]:
                page.setdefault(doc, []).append(g)

        def type_of(df: DataFrame, col: str) -> str:
            return df.schema[col].dataType.simpleString()

        entry = (
            f"qid:string,doc_rank:{type_of(fused, 'rank')},"
            f"matched_chunks:array<{type_of(chunks, 'chunk_number')}>,"
            f"best_score:{type_of(fused, 'score')},n_chunks:bigint"
            + (",matched_chunk_texts:array<string>" if chunk_texts else "")
        )
        ub = int(self._manifest.converter["updateBuckets"])
        docs = point_lookup(self._read("documents"), list(page), ub)
        grouped = docs.select(
            "id", "url", "metadata", "last_modified_at", "text",
            F.inline(F.from_json(
                F.lit(json.dumps(page)), f"map<string,array<struct<{entry}>>>"
            )[F.col("id")]),
        )
        out_cols = [
            *(["qid"] if keyed else []),
            F.col("id").alias("document_id"),
            "doc_rank", "url", "metadata", "last_modified_at",
            "matched_chunks", "best_score", "n_chunks",
            *(["matched_chunk_texts"] if chunk_texts else []),
            *([F.col("text").alias("document_text")] if document_text else []),
        ]
        if snippet_terms:
            from documents_vector_search_spark.operators.snippets import (
                best_line_snippet,
            )

            # the explode runs on the ≤ max_documents page documents only
            snip = best_line_snippet(docs, snippet_terms, id_col="id")
            grouped = grouped.join(F.broadcast(snip), "id")
            out_cols += [
                F.col("line_no").alias("snippet_line"),
                "snippet",
                F.col("n_hits").alias("snippet_hits"),
            ]
        return (
            grouped.select(*out_cols)
            .orderBy(*(["qid"] if keyed else []), "doc_rank")
            .limit(sum(len(v) for v in page.values()))
        )

    def facet_counts(
        self,
        facet_fields: list[str],
        query: str = "",
        metadata_filter: str | None = None,
    ) -> DataFrame:
        """Facet panel: ``(facet, value, n_docs)`` over the DOCUMENT
        match-set — every document whose text contains all query terms
        (conjunctive, document-level) and passes ``metadata_filter``;
        with neither, the whole collection. Facet fields resolve to
        direct document columns first, then to ``metadata`` map keys
        (the filter mini-language's field convention). One map-only
        match predicate + one (facet, value) aggregation — the facet
        column count never multiplies jobs."""
        from documents_vector_search_spark.operators.bm25 import (
            _query_terms,
            matches_all_terms,
        )
        from documents_vector_search_spark.operators.facets import (
            facet_counts as facet_counts_op,
        )

        docs = self._filtered_documents(metadata_filter)
        terms = _query_terms(query) if query else []
        if terms:
            docs = docs.filter(matches_all_terms("text", terms))
        for field in facet_fields:
            if field not in docs.columns:
                docs = docs.withColumn(
                    field, F.col("metadata").getItem(field)
                )
        return facet_counts_op(docs, facet_fields).orderBy(
            "facet", F.col("n_docs").desc(), "value"
        )
