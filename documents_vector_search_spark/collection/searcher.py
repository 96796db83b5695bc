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
top-k; the RRF/grouping stages run on ≤ k rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from documents_vector_search_spark.collection.catalog import Collection
from documents_vector_search_spark.collection.partitioning import UPDATE_PB_COL
from documents_vector_search_spark.operators.bm25 import bm25_topk
from documents_vector_search_spark.operators.embedding import hash_embedding_py
from documents_vector_search_spark.operators.group_hits import group_hits_by_document
from documents_vector_search_spark.operators.knn import knn_l2_auto
from documents_vector_search_spark.plans.filter_compiler import compile_filter

DEFAULT_INDEXES = ("vector", "bm25")


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
        self.rrf_k = rrf_k
        # embedding dim resolves lazily against the manifest's recorded
        # embedder identity (see the embedding_dim property): an explicit
        # mismatching arg RAISES instead of silently reconstructing
        # different LSH hyperplanes / probing wrong IVF centroids
        self._embedding_dim_arg = embedding_dim
        self._embedding_dim: int | None = None
        self.field_types = field_types or {}
        self._cache_tables = cache_tables
        self._cached: dict[str, DataFrame] = {}
        self.ann_probe_bits = ann_probe_bits
        self.ivf_nprobe = ivf_nprobe
        self.pq_shortlist_factor = pq_shortlist_factor
        self.sq8_shortlist_factor = sq8_shortlist_factor
        self._ann_cfg: dict | None | str = "_unset"
        self._ivf_cfg: dict | None | str = "_unset"
        self._sq_cfg: dict | None | str = "_unset"
        self._corpus_stats: tuple[int, float] | None = None
        self._bm25f_stats: dict[str, float] | None = None
        if cache_tables:
            self._warm_cache()

    def _warm_cache(self) -> None:
        """Materialize every serving table's executor-memory cache NOW,
        as concurrent driver-thread jobs — the serving-process startup
        pattern (pay at construction, not on the first query). Without
        this the first search's job materializes each persisted table
        lazily and SERIALLY as its plan first touches it; the fan-out
        overlaps the table scans exactly like the creator's build
        fan-out. One cheap count() per table forces the InMemoryRelation
        to cache all partitions (the cache stores the full table row
        set; count on top of it is free)."""
        from concurrent.futures import ThreadPoolExecutor

        from documents_vector_search_spark.collection.catalog import TABLES

        root = self.collection.root
        present = [
            t
            for t in TABLES
            if (root / t).exists() or (root / f"{t}__old").exists()
        ]
        # plan construction (and the _cached dict fill) stays serial —
        # _read is not thread-safe; only the materialization fans out
        frames = [self._read(t) for t in present]
        with ThreadPoolExecutor(max_workers=max(1, len(frames))) as pool:
            list(pool.map(lambda df: df.count(), frames))

    @property
    def embedding_dim(self) -> int:
        """Vector dimension, resolved once: the manifest's recorded
        ``converter.embedding.dim`` wins (a collection knows how it was
        embedded); an explicit constructor arg is validated against it.
        Manifests written before the field existed fall back to the arg
        (or the historical default 16)."""
        if self._embedding_dim is None:
            recorded: int | None = None
            try:
                cfg = self.collection.manifest().converter.get("embedding")
                if cfg and cfg.get("dim") is not None:
                    recorded = int(cfg["dim"])
            except FileNotFoundError:
                pass
            if (
                recorded is not None
                and self._embedding_dim_arg is not None
                and recorded != self._embedding_dim_arg
            ):
                raise ValueError(
                    f"embedding_dim={self._embedding_dim_arg} does not match "
                    f"the collection's recorded dim={recorded}; searching "
                    "with a different dim would derive different "
                    "hyperplanes/probe buckets and silently return wrong "
                    "results"
                )
            self._embedding_dim = (
                recorded
                if recorded is not None
                else (self._embedding_dim_arg or 16)
            )
        return self._embedding_dim

    def _read(self, table: str) -> DataFrame:
        if not self._cache_tables:
            return self.collection.read(table)
        if table not in self._cached:
            self._cached[table] = self.collection.read(table).persist()
        return self._cached[table]

    def refresh(self) -> None:
        """Drop every cached table, config, and corpus statistic so the
        next search reads the collection's CURRENT state — a long-lived
        serving process must call this after an update / delete / refit
        / compact. Without it, cached frames keep serving the
        pre-mutation rows from executor memory, and worse: their pinned
        file list points at swapped-away parquet, so an evicted
        partition recompute FAILS on missing files. (The reference's
        MCP adapter side-steps this by recreating its searcher per
        collection load; refresh() is the in-place equivalent.)"""
        for df in self._cached.values():
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — refresh must not fail
                pass
        self._cached = {}
        self._ann_cfg = "_unset"
        self._ivf_cfg = "_unset"
        self._sq_cfg = "_unset"
        self._corpus_stats = None
        self._bm25f_stats = None
        self._embedding_dim = None

    # -- internals ---------------------------------------------------------
    def _allowed_chunks(self, metadata_filter: str | None) -> DataFrame | None:
        """Filter → allowed chunk ids (None = no restriction)."""
        if not metadata_filter:
            return None
        docs = self._read("documents")
        pred = compile_filter(
            metadata_filter,
            field_types=self.field_types,
            metadata_map_col="metadata",
            direct_fields={"id", "url", "text", "last_modified_at", "source_type"},
        )
        allowed_docs = docs.filter(pred).select("id")
        chunks = self._read("chunks")
        return chunks.join(
            F.broadcast(allowed_docs),
            chunks["document_id"] == allowed_docs["id"],
            "left_semi",
        ).select("chunk_id")

    def _ann_config(self) -> dict | None:
        if self._ann_cfg == "_unset":
            try:
                self._ann_cfg = self.collection.manifest().converter.get("ann")
            except FileNotFoundError:
                self._ann_cfg = None
        return self._ann_cfg  # type: ignore[return-value]

    def _ivf_config(self) -> dict | None:
        if self._ivf_cfg == "_unset":
            try:
                self._ivf_cfg = self.collection.manifest().converter.get("ivf")
            except FileNotFoundError:
                self._ivf_cfg = None
        return self._ivf_cfg  # type: ignore[return-value]

    def _sq_config(self) -> dict | None:
        if self._sq_cfg == "_unset":
            try:
                self._sq_cfg = self.collection.manifest().converter.get("sq8")
            except FileNotFoundError:
                self._sq_cfg = None
        return self._sq_cfg  # type: ignore[return-value]

    def _probe_values(self, qv) -> list:
        """Partition values a query may probe on a singly-pruned layout
        (SRP ``bucket`` or IVF ``cluster_id``) — the same pruning
        :meth:`_vector_scored` applies inline, exposed for the batched
        path so both sides prune identically (drift is pinned by the
        batch==per-query parity tests)."""
        cfg = self._ann_config()
        if cfg:
            from documents_vector_search_spark.operators.ann import (
                multiprobe_buckets,
            )
            from documents_vector_search_spark.operators.dedup import (
                random_hyperplanes,
            )

            planes = random_hyperplanes(
                self.embedding_dim, cfg["nPlanes"], cfg["seed"]
            )
            return multiprobe_buckets(qv, planes, self.ann_probe_bits)
        ivf = self._ivf_config()
        if not ivf:
            raise ValueError("no pruned layout configured")
        from documents_vector_search_spark.operators.ivf import (
            probe_clusters_fixed,
        )

        nprobe = self.ivf_nprobe or ivf["nProbe"]
        return probe_clusters_fixed(ivf["centroids"], qv, nprobe)

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
        probing/pruning derives from whichever vector is used."""
        emb = self._read("embeddings")
        if qv is None:
            qv = hash_embedding_py(text, self.embedding_dim)
        cfg = self._ann_config()
        if cfg:
            # bucket-partitioned layout: the probe filter is partition
            # pruning on the `bucket` directory column — the HNSW-analog
            # sub-linear path (operators/ann.py)
            from documents_vector_search_spark.operators.ann import (
                multiprobe_buckets,
            )
            from documents_vector_search_spark.operators.dedup import (
                random_hyperplanes,
            )

            planes = random_hyperplanes(
                self.embedding_dim, cfg["nPlanes"], cfg["seed"]
            )
            probes = multiprobe_buckets(qv, planes, self.ann_probe_bits)
            emb = emb.filter(F.col("bucket").isin(probes))
        ivf = self._ivf_config()
        if ivf:
            # IVF layout: nearest-centroid probe, pruned on the
            # `cluster_id` partition column — scans ~nprobe/nlist
            # of the corpus (operators/ivf.py)
            from documents_vector_search_spark.operators.ivf import (
                probe_clusters_fixed,
            )

            nprobe = self.ivf_nprobe or ivf["nProbe"]
            probes = probe_clusters_fixed(ivf["centroids"], qv, nprobe)
            emb = emb.filter(F.col("cluster_id").isin(probes))
        if allowed is not None:
            emb = emb.join(F.broadcast(allowed), "chunk_id", "left_semi")
        sq = self._sq_config()
        if sq:
            # SQ8 layout: rank candidates by decoded distance over the
            # tiny `codes` column (8× fewer scan bytes than vectors),
            # keep a shortlist, let the exact kNN below re-rank it
            from documents_vector_search_spark.operators.sq import (
                sq_adc_distance_expr,
            )

            shortlist = (
                emb.select(
                    "chunk_id",
                    sq_adc_distance_expr(
                        F.col("codes"), qv, sq["mins"], sq["maxs"]
                    ).alias("adc_distance"),
                )
                .orderBy(F.col("adc_distance").asc(), F.col("chunk_id").asc())
                .limit(max(k * self.sq8_shortlist_factor, k))
                .select("chunk_id")
            )
            emb = emb.join(F.broadcast(shortlist), "chunk_id", "left_semi")
        if ivf and ivf.get("pq"):
            # IVFPQ: rank the pruned partitions by ADC over the tiny
            # `codes` column (lookup tables, no full-vector math), keep
            # a shortlist, and let the exact kNN below re-rank it — the
            # standard PQ shortlist-then-rerank (operators/pq.py). The
            # shortlist join is broadcast (≤ pq_shortlist_factor * k
            # ids).
            from documents_vector_search_spark.operators.pq import (
                pq_adc_topk,
            )

            shortlist = pq_adc_topk(
                emb,
                ivf["pq"]["codebooks"],
                qv,
                max(k * self.pq_shortlist_factor, k),
                id_col="chunk_id",
                codes_col="codes",
            ).select("chunk_id")
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
        build/update time) so a fresh searcher pays ZERO jobs for them;
        the aggregate over doc_stats remains as the fallback for
        manifests written before avgChunkLength existed."""
        if self._corpus_stats is None:
            try:
                m = self.collection.manifest()
                if m.avgChunkLength is not None and m.numberOfChunks:
                    self._corpus_stats = (
                        int(m.numberOfChunks),
                        float(m.avgChunkLength),
                    )
                    return self._corpus_stats
            except FileNotFoundError:
                pass
            row = self._read("doc_stats").agg(
                F.count("*").alias("n"), F.avg("dl").alias("avgdl")
            ).first()
            self._corpus_stats = (int(row["n"]), float(row["avgdl"] or 0.0))
        return self._corpus_stats

    def _bm25_scored(
        self, text: str, k: int, allowed: DataFrame | None
    ) -> DataFrame:
        """Top-k BM25 candidates as ``(chunk_id, score)`` — unranked."""
        # corpus stats stay WHOLE-INDEX; `allowed` restricts only the
        # scored candidates — the reference's FTS5 bm25() semantics
        # (filter narrows rows, statistics come from the full index)
        postings = self._read("postings")
        doc_stats = self._read("doc_stats")
        chunks = self._read("chunks")
        hits = bm25_topk(
            chunks,  # only used for sparkSession/tokenizer defaults
            text,
            k,
            id_col="chunk_id",
            text_col="indexed_data",
            postings=postings,
            doc_stats=doc_stats,
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
            doc_stats=self._read("doc_stats"),
            candidates=allowed,
            coll_len=float(n_chunks) * float(avgdl),
        )
        return hits.select("chunk_id", "score")

    def _has_field_postings(self) -> bool:
        """True when the collection materialized the document-level
        field_postings table (collections created before it existed
        serve BM25F off the chunk-derived approximation instead)."""
        root = self.collection.root
        return (root / "field_postings").exists() or (
            root / "field_postings__old"
        ).exists()

    def _bm25f_field_stats(self) -> dict[str, float]:
        """Per-field average DOCUMENT field length {field: avgfl},
        averaged over documents where the field is non-empty
        (bm25f_topk's convention) — corpus constants embedded as
        literals in every BM25F plan.

        Resolution order: the manifest's create/update-maintained
        ``fieldStats`` (zero jobs, the avgChunkLength discipline), else
        one aggregate over field_postings, else — collections predating
        field_postings — per-document sums of chunk dl (approximate
        when chunk_overlap > 0: overlap tokens count once per chunk)."""
        if self._bm25f_stats is None:
            stats: dict[str, float] | None = None
            try:
                fs = self.collection.manifest().fieldStats
            except FileNotFoundError:
                fs = None
            if fs:
                stats = {
                    name: float(rec["sumFl"]) / float(rec["docs"])
                    for name, rec in fs.items()
                    if rec.get("docs")
                }
            if stats is None:
                if self._has_field_postings():
                    rows = (
                        self._read("field_postings")
                        .select("document_id", "field", "fl")
                        .distinct()
                        .groupBy("field")
                        .agg(F.avg("fl").alias("avgfl"))
                        .collect()
                    )
                else:
                    meta = self._read("chunks").select(
                        "chunk_id", "document_id", "chunk_number"
                    )
                    ds = self._read("doc_stats").select("chunk_id", "dl")
                    rows = (
                        ds.join(meta, "chunk_id")
                        .withColumn(
                            "field",
                            F.when(
                                F.col("chunk_number") == 0, "title"
                            ).otherwise("body"),
                        )
                        .groupBy("document_id", "field")
                        .agg(F.sum("dl").alias("fl"))
                        .filter(F.col("fl") > 0)
                        .groupBy("field")
                        .agg(F.avg("fl").alias("avgfl"))
                        .collect()
                    )
                stats = {r["field"]: float(r["avgfl"]) for r in rows}
            self._bm25f_stats = stats
        return self._bm25f_stats

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

        Plan shape: ONE term_bucket-pruned scan of the document-level
        field_postings table (tf, fl, and df all exact from the
        document text — see _bm25f_doc_pseudo, which also documents the
        chunk-derived legacy fallback for collections predating the
        table), per-field averages embedded as manifest-backed
        searcher-cached literals, one TakeOrdered.

        ``metadata_filter`` restricts candidate documents (compiled
        predicate on the documents table, same mini-language as
        search()); corpus statistics stay whole-index, matching the
        FTS5-parity convention of the chunk-level rankers."""
        from documents_vector_search_spark.operators.bm25 import (
            B,
            K1,
            _query_terms,
            term_bucket_py,
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

        Primary path: the document-level ``field_postings`` table
        (operators/bm25.py build_field_postings) — built from the
        document TEXT at create/update time, so tf, fl, and df are
        exact under any chunk_overlap, and the whole query is one
        term_bucket-pruned scan with no chunk-meta join at all.
        Legacy path (collections predating the table): re-aggregate
        chunk postings by (document, field) — approximate when
        chunk_overlap > 0 (overlap tokens count once per chunk)."""
        from documents_vector_search_spark.operators.bm25 import (
            B,
            term_bucket_py,
        )

        buckets = sorted({term_bucket_py(t) for t in all_terms})
        if self._has_field_postings():
            fp = self._read("field_postings")
            if "term_bucket" in fp.columns:
                fp = fp.filter(F.col("term_bucket").isin(buckets))
            matched = fp.filter(F.col("term").isin(all_terms)).select(
                "document_id", "field", "term", "tf", "fl"
            )
            tf = matched
            doc_term = matched.select("document_id", "term")
        else:
            postings = self._read("postings")
            if "term_bucket" in postings.columns:
                postings = postings.filter(F.col("term_bucket").isin(buckets))
            chunk_matched = postings.filter(
                F.col("term").isin(all_terms)
            ).select("chunk_id", "term", "tf")

            meta = self._read("chunks").select(
                "chunk_id", "document_id", "chunk_number"
            )
            field = F.when(F.col("chunk_number") == 0, "title").otherwise(
                "body"
            )
            tf = (
                chunk_matched.join(meta, "chunk_id")
                .withColumn("field", field)
                .groupBy("document_id", "field", "term")
                .agg(F.sum("tf").cast("bigint").alias("tf"))
            )
            doc_term = chunk_matched.join(
                meta.select("chunk_id", "document_id"), "chunk_id"
            ).select("document_id", "term")

        if metadata_filter:
            docs = self._read("documents")
            pred = compile_filter(
                metadata_filter,
                field_types=self.field_types,
                metadata_map_col="metadata",
                direct_fields={
                    "id", "url", "text", "last_modified_at", "source_type",
                },
            )
            allowed_docs = docs.filter(pred).select(
                F.col("id").alias("document_id")
            )
            tf = tf.join(F.broadcast(allowed_docs), "document_id", "left_semi")

        if "fl" not in tf.columns:
            # legacy path: field lengths reconstructed from chunk token
            # counts, for CANDIDATE documents only
            cand = tf.select("document_id").distinct()
            fl = (
                self._read("doc_stats")
                .select("chunk_id", "dl")
                .join(meta, "chunk_id")
                .join(cand, "document_id", "left_semi")
                .withColumn("field", field)
                .groupBy("document_id", "field")
                .agg(F.sum("dl").cast("bigint").alias("fl"))
            )
            tf = tf.join(fl, ["document_id", "field"])

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
        try:
            n_docs = int(self.collection.manifest().numberOfDocuments)
        except FileNotFoundError:
            n_docs = self._read("documents").select("id").distinct().count()
        return pseudo, df_per_term, n_docs

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

    def _phrase_scored(
        self, text: str, k: int, allowed: DataFrame | None
    ) -> DataFrame:
        """Top-k exact-phrase candidates as ``(chunk_id, score)`` —
        score = occurrence count (operators/phrase.py). Requires the
        positional postings layout
        (create_collection(positional_postings=True)); the query text
        IS the phrase, tokenized by the engine's one tokenizer. Same
        pruning contract as BM25: term_bucket partition pruning + an
        In(term, ...) pushed filter, then one groupBy(chunk_id) over
        only the phrase's postings rows."""
        from documents_vector_search_spark.operators.bm25 import (
            term_bucket_py,
        )
        from documents_vector_search_spark.operators.phrase import (
            phrase_match_counts,
            tokenize_phrase,
        )

        postings = self._read("postings")
        if "positions" not in postings.columns:
            raise ValueError(
                "collection has no positional postings — recreate or "
                "update with create_collection(positional_postings=True) "
                "to enable phrase search"
            )
        terms = tokenize_phrase(text)
        if not terms:
            return postings.select(
                F.col("chunk_id"), F.lit(0.0).alias("score")
            ).limit(0)
        if "term_bucket" in postings.columns:
            buckets = sorted({term_bucket_py(t) for t in terms})
            postings = postings.filter(F.col("term_bucket").isin(buckets))
        counts = phrase_match_counts(
            postings.select("chunk_id", "term", "positions"),
            terms,
            id_col="chunk_id",
        )
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
          df for just those candidate terms from the term_bucket-pruned
          document-level index — the Lucene MoreLikeThis recipe), then
          run a DISJUNCTIVE BM25F query over field_postings.
        """
        if method not in ("vector", "bm25"):
            raise ValueError(f"unknown more_like_this method: {method!r}")
        import re

        from documents_vector_search_spark.functions.hashing import (
            md5_hash64_py,
        )

        try:
            ub = self.collection.manifest().converter.get("updateBuckets")
        except FileNotFoundError:
            ub = None

        def _pruned_to_doc(df: DataFrame) -> DataFrame:
            # partition-prune the point lookup to the owning bucket
            if ub and UPDATE_PB_COL in df.columns:
                return df.filter(
                    F.col(UPDATE_PB_COL) == md5_hash64_py(document_id) % ub
                )
            return df

        if method == "vector":
            own_chunks = _pruned_to_doc(self._read("chunks")).filter(
                F.col("document_id") == document_id
            ).select("chunk_id")
            own_vecs = (
                _pruned_to_doc(self._read("embeddings"))
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
        row = _pruned_to_doc(self._read("documents")).filter(
            F.col("id") == document_id
        ).select("text").first()
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

        from documents_vector_search_spark.operators.bm25 import (
            term_bucket_py,
        )

        if self._has_field_postings():
            fp = self._read("field_postings")
            if "term_bucket" in fp.columns:
                buckets = sorted({term_bucket_py(t) for t in candidates})
                fp = fp.filter(F.col("term_bucket").isin(buckets))
            df_rows = (
                fp.filter(F.col("term").isin(candidates))
                .select("document_id", "term")
                .distinct()
                .groupBy("term")
                .agg(F.count("*").alias("df"))
                .collect()
            )
        else:
            postings = self._read("postings")
            if "term_bucket" in postings.columns:
                buckets = sorted({term_bucket_py(t) for t in candidates})
                postings = postings.filter(F.col("term_bucket").isin(buckets))
            df_rows = (
                postings.filter(F.col("term").isin(candidates))
                .groupBy("term")
                .agg(F.count("*").alias("df"))
                .collect()
            )
        df_map = {r["term"]: int(r["df"]) for r in df_rows}
        try:
            n_docs = max(int(self.collection.manifest().numberOfDocuments), 1)
        except FileNotFoundError:
            n_docs = max(len(df_map), 1)
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
        fuzzy_cfg = None
        try:
            fuzzy_cfg = self.collection.manifest().converter.get("fuzzy")
        except FileNotFoundError:
            pass
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
        arithmetic, and the only index work is one bucket-pruned
        postings scan for the candidate terms' document frequencies."""
        from documents_vector_search_spark.operators.bm25 import (
            _query_terms,
            rm3_weights_from_feedback,
            term_bucket_py,
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
            postings = self._read("postings")
            if "term_bucket" in postings.columns:
                buckets = sorted({term_bucket_py(t) for t in cand_terms})
                postings = postings.filter(
                    F.col("term_bucket").isin(buckets)
                )
            df_lookup = {
                r.term: int(r.df)
                for r in postings.filter(F.col("term").isin(cand_terms))
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
            doc_stats=self._read("doc_stats"),
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

        On ANN/IVF-pruned layouts the vector side batches through
        knn_l2_batch_pruned: ONE scan of the union of the queries'
        probe partitions (directory pruning on the bucket/cluster_id
        column), each query scored only against its own probe set — so
        overlapping probes are read once instead of once per query, and
        per-query results still match :meth:`search_chunks`'s
        deterministic ANN contract exactly (pinned by tests).
        Quantized pruned layouts batch in the COMPRESSED domain: one
        codes-only scan of the union of probe partitions builds every
        query's shortlist — ADC lookup tables for IVFPQ, per-dimension
        decode for SQ8-composed — from the same rounded math as the
        per-query plan (identical shortlist sets), then one exact
        re-rank pass over the shortlisted vectors. So quantization's
        codes-only scan is preserved AND batch == per-query stays exact
        on every constructible layout (create_collection rejects
        ann+ivf, the one composition that would have no single probe
        map)."""
        unknown = set(indexes) - {"vector", "bm25", "phrase"}
        if unknown:
            raise ValueError(f"unknown indexes: {sorted(unknown)}")
        if ranker not in ("bm25", "ql"):
            raise ValueError(f"unknown ranker: {ranker!r}")
        allowed = self._allowed_chunks(metadata_filter)
        scored = []
        if "vector" in indexes:
            cfg, ivf = self._ann_config(), self._ivf_config()
            pq_composed = bool(ivf and ivf.get("pq"))
            sq_composed = self._sq_config() is not None
            if cfg and ivf:
                # create_collection rejects ann_planes+ivf_nlist
                # (creator.py raises "mutually exclusive"), so no
                # constructible collection reaches here; fail loudly on
                # a hand-built manifest instead of silently serving an
                # untested composition (r5 VERDICT "Next round" #5
                # removed the dead per-query fallback loop this guarded)
                raise ValueError(
                    "collection manifest declares both ann and ivf "
                    "layouts; this composition is not constructible "
                    "via create_collection and has no serving path"
                )
            if (cfg or ivf) and sq_composed:
                # batched SQ8-composed pruned serving: one codes-only
                # union scan builds every query's decoded-distance
                # shortlist (same decode + fold order as the per-query
                # expression → identical shortlist sets), then one
                # exact re-rank pass
                from documents_vector_search_spark.operators.knn import (
                    knn_l2_batch_grouped,
                )
                from documents_vector_search_spark.operators.sq import (
                    sq_adc_batch_shortlist,
                )

                sq = self._sq_config()
                part_col = "bucket" if cfg else "cluster_id"
                qvecs, probes = {}, {}
                for qid, text in texts.items():
                    qv = hash_embedding_py(text, self.embedding_dim)
                    qvecs[qid] = qv
                    probes[qid] = self._probe_values(qv)
                union_parts = sorted(
                    {p for ps in probes.values() for p in ps}
                )
                emb = self._read("embeddings").filter(
                    F.col(part_col).isin(union_parts)
                )
                if allowed is not None:
                    emb = emb.join(
                        F.broadcast(allowed), "chunk_id", "left_semi"
                    )
                shortlist = sq_adc_batch_shortlist(
                    emb,
                    sq["mins"],
                    sq["maxs"],
                    qvecs,
                    probes,
                    max(max_chunks * self.sq8_shortlist_factor, max_chunks),
                    id_col="chunk_id",
                    codes_col="codes",
                    part_col=part_col,
                )
                scoped = emb.select("chunk_id", "vector").join(
                    F.broadcast(shortlist), "chunk_id"
                )
                vec = knn_l2_batch_grouped(
                    scoped, qvecs, max_chunks,
                    id_col="chunk_id", vector_col="vector",
                ).select(
                    "qid", "chunk_id", (-F.col("distance")).alias("score")
                )
            elif pq_composed:
                # batched IVFPQ: one codes scan of the union of probe
                # clusters builds every query's ADC shortlist (same
                # rounded LUTs as the per-query plan → identical
                # shortlist sets), then one exact re-rank pass over the
                # shortlisted vectors — full batch amortization with
                # per-query parity (test-pinned)
                from documents_vector_search_spark.operators.knn import (
                    knn_l2_batch_grouped,
                )
                from documents_vector_search_spark.operators.pq import (
                    pq_adc_batch_shortlist,
                )

                qvecs, probes = {}, {}
                for qid, text in texts.items():
                    qv = hash_embedding_py(text, self.embedding_dim)
                    qvecs[qid] = qv
                    probes[qid] = self._probe_values(qv)
                union_parts = sorted(
                    {p for ps in probes.values() for p in ps}
                )
                emb = self._read("embeddings").filter(
                    F.col("cluster_id").isin(union_parts)
                )
                if allowed is not None:
                    emb = emb.join(
                        F.broadcast(allowed), "chunk_id", "left_semi"
                    )
                shortlist = pq_adc_batch_shortlist(
                    emb,
                    ivf["pq"]["codebooks"],
                    qvecs,
                    probes,
                    max(max_chunks * self.pq_shortlist_factor, max_chunks),
                    id_col="chunk_id",
                    codes_col="codes",
                    part_col="cluster_id",
                )
                scoped = emb.select("chunk_id", "vector").join(
                    F.broadcast(shortlist), "chunk_id"
                )
                vec = knn_l2_batch_grouped(
                    scoped, qvecs, max_chunks,
                    id_col="chunk_id", vector_col="vector",
                ).select(
                    "qid", "chunk_id", (-F.col("distance")).alias("score")
                )
            elif cfg or ivf:
                from documents_vector_search_spark.operators.knn import (
                    knn_l2_batch_pruned,
                )

                part_col = "bucket" if cfg else "cluster_id"
                qvecs, probes = {}, {}
                for qid, text in texts.items():
                    qv = hash_embedding_py(text, self.embedding_dim)
                    qvecs[qid] = qv
                    probes[qid] = self._probe_values(qv)
                union_parts = sorted(
                    {p for ps in probes.values() for p in ps}
                )
                emb = self._read("embeddings").filter(
                    F.col(part_col).isin(union_parts)
                )
                if allowed is not None:
                    emb = emb.join(
                        F.broadcast(allowed), "chunk_id", "left_semi"
                    )
                vec = knn_l2_batch_pruned(
                    emb, qvecs, probes, max_chunks,
                    id_col="chunk_id", vector_col="vector",
                    part_col=part_col,
                ).select(
                    "qid", "chunk_id", (-F.col("distance")).alias("score")
                )
            else:
                from documents_vector_search_spark.operators.knn import (
                    knn_l2_batch,
                )

                emb = self._read("embeddings")
                if allowed is not None:
                    emb = emb.join(F.broadcast(allowed), "chunk_id", "left_semi")
                qvecs = {
                    qid: hash_embedding_py(text, self.embedding_dim)
                    for qid, text in texts.items()
                }
                vec = knn_l2_batch(
                    emb, qvecs, max_chunks,
                    id_col="chunk_id", vector_col="vector",
                ).select(
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
                    doc_stats=self._read("doc_stats"),
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
                    doc_stats=self._read("doc_stats"),
                    corpus_stats=self._bm25_corpus_stats(),
                    candidates=allowed,
                )
            scored.append(bm.withColumn("_src", F.lit("b")))
        if "phrase" in indexes:
            # batched exact-phrase branch: Q phrases share ONE
            # positional-postings scan pruned to the union of their
            # terms' buckets (operators/phrase.py::phrase_topk_batch) —
            # same amortization shape as bm25_topk_batch
            from documents_vector_search_spark.operators.bm25 import (
                term_bucket_py,
            )
            from documents_vector_search_spark.operators.phrase import (
                phrase_topk_batch,
                tokenize_phrase,
            )

            postings = self._read("postings")
            if "positions" not in postings.columns:
                raise ValueError(
                    "collection has no positional postings — recreate "
                    "with create_collection(positional_postings=True) "
                    "to enable phrase search"
                )
            union_terms = {
                t for p in texts.values() for t in tokenize_phrase(p)
            }
            if "term_bucket" in postings.columns and union_terms:
                buckets = sorted({term_bucket_py(t) for t in union_terms})
                postings = postings.filter(
                    F.col("term_bucket").isin(buckets)
                )
            positional = postings.select("chunk_id", "term", "positions")
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
        queries in one job, keyed by ``qid`` — grouping, doc ranking
        (a document ranks at its best chunk's rank) and the per-query
        document limit all run per qid inside the same plan.
        ``diversify_lambda`` (None = off, same convention as
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
        chunks = self._read("chunks")
        hits = fused.join(chunks, "chunk_id").select(
            "qid", "chunk_id", "document_id", "chunk_number", "rank", "score"
        )
        grouped = hits.groupBy("qid", "document_id").agg(
            F.min("rank").alias("doc_rank"),
            # chunk NUMBERS in rank order — the reference's matchedChunks
            # shape (same as the single-query search path)
            F.transform(
                F.sort_array(F.collect_list(F.struct("rank", "chunk_number"))),
                lambda s: s["chunk_number"],
            ).alias("matched_chunks"),
            F.max("score").alias("best_score"),
            F.count("*").alias("n_chunks"),
        )
        if max_documents is not None:
            w = Window.partitionBy("qid").orderBy(
                F.col("doc_rank").asc(), F.col("document_id").asc()
            )
            grouped = (
                grouped.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= max_documents)
                .drop("_rn")
            )
        docs = self._read("documents")
        return (
            grouped.join(docs, grouped["document_id"] == docs["id"])
            .select(
                "qid",
                "document_id",
                "doc_rank",
                "url",
                "metadata",
                "last_modified_at",
                "matched_chunks",
                "best_score",
                "n_chunks",
            )
            .orderBy("qid", "doc_rank")
        )

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
                text,
                max_chunks,
                lam=diversify_lambda,
                indexes=indexes,
                metadata_filter=metadata_filter,
            )
        else:
            fused = self.search_chunks(
                text, max_chunks, indexes, metadata_filter,
                expand_query=expand_query, ranker=ranker,
            )
        chunks = self._read("chunks")
        hit_chunks = fused.join(chunks, "chunk_id").select(
            "chunk_id", "document_id", "chunk_number", "rank", "score",
            "indexed_data",
        )
        grouped = group_hits_by_document(
            hit_chunks,
            max_documents=max_documents,
            doc_col="document_id",
            chunk_col="chunk_number",
            # pagination: page p passes p*max_documents; deep pages need
            # a proportionally larger max_chunks pool (the chunk top-k
            # bounds how many documents can be grouped at all)
            offset=document_offset,
        )
        if include_chunk_text:
            texts = hit_chunks.groupBy("document_id").agg(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("rank", "indexed_data"))
                    ),
                    lambda s: s["indexed_data"],
                ).alias("matched_chunk_texts")
            )
            grouped = grouped.join(texts, "document_id")
        docs = self._read("documents")
        out_cols = [
            "document_id",
            "doc_rank",
            "url",
            "metadata",
            "last_modified_at",
            "matched_chunks",
            "best_score",
            "n_chunks",
        ]
        if include_chunk_text:
            out_cols.append("matched_chunk_texts")
        if include_document_text:
            out_cols.append(F.col("text").alias("document_text"))
        joined = grouped.join(docs, grouped["document_id"] == docs["id"])
        if include_snippets:
            from documents_vector_search_spark.operators.bm25 import (
                _query_terms,
            )
            from documents_vector_search_spark.operators.snippets import (
                best_line_snippet,
            )

            terms = _query_terms(text)
            if not terms:
                raise ValueError(
                    "include_snippets requires a non-empty query"
                )
            # the explode runs on the ≤ max_documents hit docs only
            snip = best_line_snippet(
                joined.select(F.col("document_id"), F.col("text")),
                terms,
                id_col="document_id",
            )
            joined = joined.join(F.broadcast(snip), "document_id")
            out_cols += [
                F.col("line_no").alias("snippet_line"),
                "snippet",
                F.col("n_hits").alias("snippet_hits"),
            ]
        return joined.select(*out_cols).orderBy("doc_rank")

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

        docs = self._read("documents")
        if metadata_filter:
            pred = compile_filter(
                metadata_filter,
                field_types=self.field_types,
                metadata_map_col="metadata",
                direct_fields={
                    "id", "url", "text", "last_modified_at", "source_type",
                },
            )
            docs = docs.filter(pred)
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
