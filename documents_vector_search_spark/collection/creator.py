"""Collection creation: canonical docs → chunk/embed/index tables.

Spark-first re-expression of the reference's create pipeline
(main/core/documents_collection_creator.py:37-71,100-192): read →
convert → save documents → enumerate chunks with global ids → feed
every indexer. Here the "indexers" are two more DataFrame writes off
the same cached chunk table — the multi-indexer fan-out of
documents_collection_creator.py:180-181 with Parquet instead of
FAISS/Chroma/SQLite.

Scale notes (100 TB):
- One pass over the corpus: chunks are cached once and fanned out to
  embeddings + postings + doc_stats (three writes, one computation).
- The reference's 500k-doc batching (documents_collection_creator.py:28)
  is subsumed by partitioned execution.
- Chunk ids DEFAULT to order-free hashes of (document_id, chunk_number)
  — collision-free (~n²/2⁶¹ odds), fully parallel, and stable across
  rebuilds and updates (a replaced document's chunks keep their ids).
  ``contiguous_ids=True`` opts into the reference's global-counter
  parity (documents_collection_creator.py:162-167), whose row_number
  window funnels the corpus through ONE partition — a bounded-batch
  tool, never the 100 TB initial-build default. The chosen strategy is
  recorded in the manifest (``converter.idStrategy``) so updates match.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from documents_vector_search_spark.collection.catalog import Collection
from documents_vector_search_spark.collection.manifest import Manifest
from documents_vector_search_spark.functions.hashing import md5_hash64
from documents_vector_search_spark.operators.bm25 import (
    N_TERM_BUCKETS,
    build_doc_stats,
    build_field_postings,
    build_postings,
    field_text_exprs,
)
from documents_vector_search_spark.operators.chunking import (
    assign_chunk_ids,
    fixed_window_chunks,
)
from documents_vector_search_spark.operators.embedding import hash_embedding_expr

Embedder = Callable[[Column], Column]


def default_embedder(dim: int = 16) -> Embedder:
    return lambda col: hash_embedding_expr(col, dim)


def build_chunks(
    docs: DataFrame,
    chunk_size: int = 1000,
    chunk_overlap: int = 100,
    title_col: str | None = None,
    title_from_text: bool = False,
) -> DataFrame:
    """Docs → (document_id, chunk_number, indexed_data).

    Chunk 0 is the title/main-info chunk (reference
    jira_document_converter.py:39-51: "KEY : summary" etc.); chunks
    1..N split the body (SURVEY §2.3 T2).

    ``title_from_text=True`` reproduces the reference converters'
    chunk topology exactly: every converter (jira main-info,
    confluence path-of-titles, files relative path) emits a document
    text of the form "<title line>\\n\\n<body>", chunk 0 is that first
    element and the splitter sees ONLY the body — so chunk 0 is the
    title line and body chunks never re-contain it. The create
    commands for those sources set it (recorded in the manifest as
    ``titleFromText`` so updates reproduce the topology). Default
    False keeps the generic behavior for sources whose text has no
    title line (dataset ingest): chunk 0 = ``title_col`` or the id,
    body = the whole text.
    """
    # ONE field-split definition shared with build_field_postings and
    # BM25F serving (operators/bm25.py field_text_exprs)
    fields = field_text_exprs(title_col, title_from_text)
    title = fields["title"]
    if title_from_text:
        body_src = docs.withColumn("text", fields["body"])
    else:
        body_src = docs
    title_chunks = docs.select(
        F.col("id").alias("document_id"),
        F.lit(0).alias("chunk_number"),
        title.cast("string").alias("indexed_data"),
    )
    body = fixed_window_chunks(
        body_src.filter(F.length("text") > 0),
        chunk_size=chunk_size,
        overlap=chunk_overlap,
        id_col="id",
        text_col="text",
    )
    body_chunks = body.select(
        F.col("id").alias("document_id"),
        (F.col("chunk_number") + 1).alias("chunk_number"),
        F.col("chunk_text").alias("indexed_data"),
    )
    return title_chunks.unionByName(body_chunks)


class _StageTimer:
    """Opt-in stage timing (``DVSS_TIMING=1``): prints one
    ``[dvss-timing] stage=<name> sec=<t>`` line per stage so build
    regressions attribute to a stage instead of a 6-second blob.
    Thread-safe (the index fan-out runs stages concurrently); no-op —
    a single env read — when the flag is unset."""

    def __init__(self, scope: str):
        import os

        self.enabled = bool(os.environ.get("DVSS_TIMING"))
        self.scope = scope

    class _Span:
        def __init__(self, timer, name):
            self.timer, self.name = timer, name

        def __enter__(self):
            import time

            self.t0 = time.time()
            return self

        def __exit__(self, *exc):
            import time

            if self.timer.enabled:
                print(
                    f"[dvss-timing] scope={self.timer.scope} "
                    f"stage={self.name} sec={time.time() - self.t0:.3f}",
                    flush=True,
                )
            return False

    def stage(self, name: str) -> "_StageTimer._Span":
        return self._Span(self, name)


def _hash_chunk_ids(chunks: DataFrame) -> DataFrame:
    """Order-free 60-bit chunk ids from (document_id, chunk_number) —
    the scale path (no global sort; collision odds ~n²/2⁶¹)."""
    return chunks.withColumn(
        "chunk_id",
        md5_hash64(
            F.concat_ws(":", F.col("document_id"), F.col("chunk_number"))
        ),
    )


def create_collection(
    collection: Collection,
    docs: DataFrame,
    chunk_size: int = 1000,
    chunk_overlap: int = 100,
    title_col: str | None = None,
    title_from_text: bool = False,
    embedder: Embedder | None = None,
    embedding_dim: int = 16,
    embedder_tag: str | None = None,
    contiguous_ids: bool = False,
    ann_planes: int | None = None,
    ann_seed: int = 42,
    ivf_nlist: int | None = None,
    ivf_nprobe: int = 2,
    ivf_seed: int = 42,
    pq_m: int | None = None,
    pq_ksub: int = 16,
    sq8: bool = False,
    update_buckets: int = 8,
    positional_postings: bool = False,
    fuzzy_dictionary: bool = False,
    zorder_by: tuple[str, str] | None = None,
    zorder_files: int = 64,
    zorder_bits: int = 16,
) -> Manifest:
    """Create (wipe + rebuild) a collection from canonical documents.

    ``contiguous_ids=False`` (default) assigns order-free hash chunk ids
    — the scale path; ``True`` restores the reference's contiguous
    counter (single-partition window, bounded corpora only).

    ``ann_planes`` writes the embeddings table PARTITIONED by SRP-LSH
    bucket (operators/ann.py): vector search then prunes to the query's
    probe buckets at the Parquet partition level — the engine's HNSW
    analog (reference chroma_indexer.py:147-157). The config is recorded
    in the manifest so CollectionSearcher and updates honor the layout.

    ``ivf_nlist`` is the data-aware alternative: KMeans centroids
    (IVF-Flat, operators/ivf.py) instead of random hyperplanes. The fit
    runs once at create; the ROUNDED centroids go into the manifest, so
    searches and updates re-derive probe/assignment deterministically
    without serializing any model. Embeddings are written
    ``partitionBy(cluster_id)`` → the probe is partition pruning that
    scans ~nprobe/nlist of the corpus. Mutually exclusive with
    ``ann_planes``.

    ``pq_m`` (requires ``ivf_nlist``) adds product-quantization codes
    to the IVF layout — the IndexIVFPQ composition (operators/pq.py):
    the coarse quantizer prunes partitions, ADC over the tiny ``codes``
    column ranks the survivors, and the searcher re-ranks an ADC
    shortlist against true vectors. Rounded codebooks live in the
    manifest beside the centroids.

    ``sq8`` adds per-dimension 8-bit scalar-quantized ``codes``
    (operators/sq.py, FAISS SQ8 analog) beside the full vectors: the
    searcher ranks a shortlist over the tiny codes column and exact-
    re-ranks it — an 8× scan-byte cut on the ranking pass. The fitted
    [min, max] bounds (exact doubles) live in the manifest; updates
    re-encode fresh vectors with the SAME bounds (out-of-range values
    clamp — re-create to refit bounds after large distribution drift).
    Composes with ``ann_planes`` or ``ivf_nlist`` (prune first, then
    code-ranked shortlist); mutually exclusive with ``pq_m`` (one fine
    quantizer owns the ``codes`` column).

    ``positional_postings`` stores sorted token offsets per (chunk,
    term) beside tf in the postings table — the layout exact-phrase
    search needs (searcher ``indexes=("phrase",)``). BM25 reads are
    unaffected (columnar scans never touch the positions bytes);
    postings bytes roughly double. Recorded in the manifest; updates
    sniff the schema and keep the layout.

    ``fuzzy_dictionary`` materializes the term dictionary and its
    SymSpell deletion index as collection tables
    (collection/fuzzy_artifacts.py) — `suggest`/`search --fuzzy` then
    probe a variant_bucket-pruned index instead of aggregating the
    postings per query; updates maintain both incrementally from the
    changed postings rows only.

    ``update_buckets`` (>= 1): every table is additionally partitioned
    by a stable ``_pb`` bucket of its delete key so incremental updates
    rewrite only affected partitions — see collection/partitioning.py
    for sizing (default 8 suits test corpora; 100 TB wants 1024+).

    ``zorder_by=(colA, colB)``: Z-cluster the DOCUMENTS table on two
    integer-castable/timestamp columns (operators/layout.py) so range
    predicates on either prune parquet files via footer stats — the
    Delta/Iceberg OPTIMIZE ZORDER BY layout as a create option.
    Recorded in the manifest; incremental updates degrade clustering
    in the rewritten buckets only, and compact_collection re-clusters
    them from the record (the standard ingest-then-OPTIMIZE lifecycle).
    """
    if ann_planes and ivf_nlist:
        raise ValueError("ann_planes and ivf_nlist are mutually exclusive")
    if pq_m and not ivf_nlist:
        raise ValueError("pq_m requires ivf_nlist (IVFPQ layout)")
    if sq8 and pq_m:
        raise ValueError("sq8 and pq_m are mutually exclusive quantizers")
    if zorder_by is not None and len(zorder_by) != 2:
        raise ValueError("zorder_by takes exactly two column names")
    if update_buckets < 1:
        raise ValueError(f"update_buckets must be >= 1, got {update_buckets}")
    collection.destroy()
    embed = embedder or default_embedder(embedding_dim)

    from documents_vector_search_spark.collection.partitioning import (
        UPDATE_PB_COL,
        pb_col,
    )

    def doc_pb(col_name: str) -> Column:
        return pb_col(F.col(col_name), update_buckets)

    _timer = _StageTimer(f"create:{collection.name}")
    docs_out = docs.withColumn(UPDATE_PB_COL, doc_pb("id"))
    if zorder_by:
        from documents_vector_search_spark.operators.layout import (
            zorder_within_partitions,
        )

        docs_out = zorder_within_partitions(
            docs_out,
            UPDATE_PB_COL,
            zorder_by[0],
            zorder_by[1],
            num_files=zorder_files,
            bits=zorder_bits,
        )
    with _timer.stage("documents_write"):
        collection.write(
            "documents",
            docs_out,
            partition_by=[UPDATE_PB_COL],
        )
    # an empty source writes zero parquet files under the partitioned
    # layout, and every later stage (and any future read) would die on
    # schema inference — fail HERE with a clear message instead. File
    # probe, not a count job: the write above already ran the source.
    from pathlib import Path

    if not any(Path(collection.table_path("documents")).rglob("*.parquet")):
        collection.destroy()
        raise ValueError(
            f"cannot create collection '{collection.name}': the source "
            "produced zero documents (create requires a non-empty "
            "corpus; incremental updates accept empty batches)"
        )
    docs = collection.read("documents")  # re-read: decouple lineage from source

    chunks = build_chunks(
        docs, chunk_size, chunk_overlap, title_col, title_from_text
    )
    if contiguous_ids:
        chunks = assign_chunk_ids(
            chunks, offset=0, id_col="document_id", chunk_number_col="chunk_number"
        )
        # the global row_number window collapses to ONE partition —
        # spread rows back out so the write and every downstream index
        # build run parallel (the window itself is the documented
        # bounded-batch tool; contiguous_ids=False avoids it entirely)
        chunks = chunks.repartition(
            max(2, collection.spark.sparkContext.defaultParallelism // 4),
            "document_id",
        )
    else:
        chunks = _hash_chunk_ids(chunks)
    with _timer.stage("chunks_write"):
        collection.write(
            "chunks",
            chunks.withColumn(UPDATE_PB_COL, doc_pb("document_id")),
            partition_by=[UPDATE_PB_COL],
        )
    chunks = collection.read("chunks")  # one materialized pass feeds 3 indexes

    emb_df = chunks.select(
        "chunk_id",
        embed(F.col("indexed_data")).cast("array<float>").alias("vector"),
        # every table buckets by the OWNING DOCUMENT's id (ridden from
        # the chunks table — map-only, no join): an update batch of N
        # docs then touches ≤N buckets in EVERY table, instead of the
        # batch's chunk ids spraying across all buckets (partitioning.py)
        F.col(UPDATE_PB_COL),
    )

    def _write_embeddings() -> dict:
        import shutil

        result: dict = {}
        # MATERIALIZE the embeddings once before any fit (KMeans/PQ
        # iterations or the SQ8 bounds aggregation): emb_df is a lazy
        # projection over chunks, so feeding it to a fit and then the
        # layout write would re-run the embedder per pass — with a real
        # model that's multiple full corpus encodes. One parquet write
        # = one encode; every fit and the final partitioned write read
        # the materialized table.
        raw_path: str | None = None
        src = emb_df
        if ivf_nlist or sq8:
            raw_path = collection.table_path("embeddings__raw")
            emb_df.write.mode("overwrite").parquet(raw_path)
            src = collection.spark.read.parquet(raw_path)
        try:
            if sq8:
                from documents_vector_search_spark.operators.sq import (
                    fit_sq_bounds,
                    sq_encode_auto,
                )

                mins, maxs = fit_sq_bounds(
                    src, embedding_dim, vector_col="vector"
                )
                result["sq8"] = {"mins": mins, "maxs": maxs}
                src = src.withColumn(
                    "codes",
                    sq_encode_auto(
                        F.col("vector").cast("array<double>"), mins, maxs
                    ),
                )
            if ann_planes:
                from documents_vector_search_spark.operators.ann import (
                    write_bucket_partitioned,
                )

                write_bucket_partitioned(
                    src,
                    collection.table_path("embeddings"),
                    n_planes=ann_planes,
                    seed=ann_seed,
                    vector_col="vector",
                    dim=embedding_dim,
                    extra_partition_cols=[UPDATE_PB_COL],
                )
                return result
            if ivf_nlist:
                from documents_vector_search_spark.operators.ivf import (
                    assign_cluster_auto,
                    fit_ivf,
                    round_centroids,
                )

                index = fit_ivf(
                    src, nlist=ivf_nlist, id_col="chunk_id",
                    vector_col="vector", seed=ivf_seed,
                )
                centroids = round_centroids(index.centroids)
                result["centroids"] = centroids
                # re-assign from the ROUNDED centroids (not the fitted
                # model): the manifest-persisted centroids must reproduce
                # the exact same partition for every future update batch
                out = src.withColumn(
                    "cluster_id",
                    assign_cluster_auto(
                        F.col("vector").cast("array<double>"), centroids
                    ),
                )
                if pq_m:
                    from documents_vector_search_spark.operators.pq import (
                        fit_pq,
                        pq_encode_auto,
                    )

                    result["codebooks"] = fit_pq(
                        src, dim=embedding_dim, m=pq_m, ksub=pq_ksub,
                        vector_col="vector", seed=ivf_seed,
                    )
                    out = out.withColumn(
                        "codes",
                        pq_encode_auto(
                            F.col("vector").cast("array<double>"),
                            result["codebooks"],
                        ),
                    )
                collection.write(
                    "embeddings", out,
                    partition_by=["cluster_id", UPDATE_PB_COL],
                )
                return result
            collection.write("embeddings", src, partition_by=[UPDATE_PB_COL])
            return result
        finally:
            if raw_path:
                shutil.rmtree(raw_path, ignore_errors=True)

    def _write_postings() -> None:
        # postings partitioned by term-hash bucket: a query's term
        # lookup becomes Parquet partition pruning (operators/bm25.py).
        # bucket_partitions pushes the term_bucket repartition INTO the
        # build: one exchange serves both the (id, term) aggregation
        # and the write layout (build_postings docstring), so each
        # bucket still lands in few files without a second
        # postings-sized exchange.
        postings_df = build_postings(
            chunks, id_col="chunk_id", text_col="indexed_data", with_dl=True,
            carry_cols=[UPDATE_PB_COL],  # owning doc's bucket, see emb_df
            with_positions=positional_postings,
            bucket_partitions=N_TERM_BUCKETS,
        )
        collection.write(
            "postings",
            postings_df,
            partition_by=["term_bucket", UPDATE_PB_COL],
        )

    def _write_doc_stats() -> None:
        collection.write(
            "doc_stats",
            build_doc_stats(
                chunks, id_col="chunk_id", text_col="indexed_data",
                carry_cols=[UPDATE_PB_COL],  # owning doc's bucket
            ),
            partition_by=[UPDATE_PB_COL],
        )

    def _write_field_postings() -> None:
        # document-level field postings built from the DOCUMENT text:
        # the BM25F serving index, exact under any chunk_overlap (see
        # build_field_postings — chunk-derived field tf/fl double-count
        # overlap regions). Same pruning layout AND same single-exchange
        # bucket fusion as postings.
        fp = build_field_postings(
            docs, title_col, title_from_text, carry_cols=[UPDATE_PB_COL],
            bucket_partitions=N_TERM_BUCKETS,
        )
        collection.write(
            "field_postings",
            fp,
            partition_by=["term_bucket", UPDATE_PB_COL],
        )

    def _gather_doc_header():
        # doc count + watermark only — a two-column scan. The manifest's
        # tokenize-derived stats (avgdl, per-field BM25F stats) are NOT
        # recomputed from the corpus: the doc_stats and field_postings
        # builds already tokenized it, so those stats are read back from
        # the written index tables (_chunk_stats / _field_stats below),
        # value-identically and without 3 extra corpus tokenize passes.
        return docs.agg(
            F.count("*").alias("n"),
            F.max("last_modified_at").alias("wm"),
        ).first()

    def _chunk_stats():
        # chunk count / max id / BM25 avgdl from the doc_stats TABLE
        # (one row per chunk, dl = size(tokenize(indexed_data)) written
        # by _write_doc_stats): avg over the same int column in any
        # order is the same double (exact int64 sum / exact count), so
        # the manifest value is bit-identical to re-tokenizing chunks —
        # persisted so serving never runs a corpus-stats job
        # (searcher._bm25_corpus_stats).
        return (
            collection.read("doc_stats")
            .agg(
                F.count("*").alias("n"),
                F.max("chunk_id").alias("last"),
                F.avg("dl").alias("avgdl"),
            )
            .first()
        )

    def _field_stats():
        # per-field BM25F stats (avgfl numerator/denominator) from the
        # field_postings TABLE: a field's posting rows exist exactly for
        # documents where the field is non-empty, Σtf over a document's
        # rows is its fl, so per field docs = countDistinct(document_id)
        # and sumFl = sum(tf) — integer-exact equals of the old
        # count(fl > 0) / sum(fl) aggregate over re-tokenized documents.
        # The aggregate reads two slim columns of the index table
        # instead of tokenizing every document a second time.
        rows = (
            collection.read("field_postings")
            .groupBy("field")
            .agg(
                F.countDistinct("document_id").alias("_fn"),
                F.sum("tf").alias("_fs"),
            )
            .collect()
        )
        stats = {name: {"docs": 0, "sumFl": 0} for name in ("title", "body")}
        for r in rows:
            stats[r["field"]] = {"docs": int(r["_fn"]), "sumFl": int(r["_fs"])}
        return stats

    # the three index builds + the manifest stats all read the SAME
    # materialized chunk table and are independent — run them as
    # concurrent jobs (Spark schedules actions from separate driver
    # threads side by side; on a shared cluster, pair with FAIR
    # scheduler pools). This is the multi-indexer fan-out of reference
    # documents_collection_creator.py:180-181 without its serial loop.
    from concurrent.futures import ThreadPoolExecutor

    def _timed_call(name, fn):
        with _timer.stage(name):
            return fn()

    def _fuzzy_chain(post_future) -> None:
        # chains onto the postings write (its only input) so the
        # vocabulary aggregate + deletion-index explode overlap the
        # embeddings/field_postings tails instead of serializing after
        # the whole fan-out
        from documents_vector_search_spark.collection.fuzzy_artifacts import (
            write_fuzzy_artifacts,
        )

        post_future.result()
        with _timer.stage("fuzzy_artifacts"):
            write_fuzzy_artifacts(collection)

    with ThreadPoolExecutor(max_workers=8) as pool:
        f_emb = pool.submit(_timed_call, "embeddings", _write_embeddings)
        f_post = pool.submit(_timed_call, "postings", _write_postings)
        f_ds = pool.submit(_timed_call, "doc_stats", _write_doc_stats)
        f_fp = pool.submit(
            _timed_call, "field_postings", _write_field_postings
        )
        f_hdr = pool.submit(_timed_call, "manifest_stats", _gather_doc_header)
        f_fuzzy = (
            pool.submit(_fuzzy_chain, f_post) if fuzzy_dictionary else None
        )
        # the read-back aggregates chain onto their table writes so they
        # overlap the long postings build instead of serializing after it
        f_ds.result()
        f_cs = pool.submit(_timed_call, "chunk_stats", _chunk_stats)
        f_fp.result()
        f_fs = pool.submit(_timed_call, "field_stats", _field_stats)
        emb_result = f_emb.result()
        ivf_centroids = emb_result.get("centroids")
        pq_codebooks = emb_result.get("codebooks")
        sq8_bounds = emb_result.get("sq8")
        f_post.result()
        doc_row = f_hdr.result()
        n_docs, watermark = int(doc_row["n"]), doc_row["wm"]
        stats = f_cs.result()
        field_stats = f_fs.result()
        if f_fuzzy is not None:
            f_fuzzy.result()
    n_chunks, last_id = stats["n"], stats["last"]
    # lastIndexItemId is only meaningful under the counter strategy
    # (updates continue from it); hash ids record -1
    manifest = Manifest(
        collectionName=collection.name,
        lastModifiedDocumentTime=watermark.isoformat() if watermark else None,
        numberOfDocuments=n_docs,
        numberOfChunks=n_chunks,
        avgChunkLength=float(stats["avgdl"]) if stats["avgdl"] is not None else None,
        fieldStats=field_stats,
        lastIndexItemId=(
            int(last_id) if contiguous_ids and last_id is not None else -1
        ),
        converter={
            "splitter": {"chunkSize": chunk_size, "chunkOverlap": chunk_overlap},
            "idStrategy": "counter" if contiguous_ids else "hash",
            # chunk-0-from-text topology (reference converter parity);
            # updates must rebuild changed docs' chunks the same way
            **({"titleFromText": True} if title_from_text else {}),
            # generic-topology title column (field_text_exprs): updates
            # and deletes re-derive the same field split from this
            **({"titleCol": title_col} if title_col else {}),
            # documents-table Z-order layout: compact_collection reads
            # this to re-cluster buckets an update fragmented
            **(
                {
                    "zorder": {
                        "table": "documents",
                        "cols": list(zorder_by),
                        "bits": zorder_bits,
                        "files": zorder_files,
                    }
                }
                if zorder_by
                else {}
            ),
            # update-bucket count: incremental updates prune and rewrite
            # only the _pb partitions their changed keys hash into
            "updateBuckets": update_buckets,
            # embedder identity: searches and updates against this
            # collection must reproduce the SAME vector space — a
            # searcher probing LSH/IVF buckets derived with a different
            # dim silently returns wrong results, so both validate
            # against this record (reference persists its model name the
            # same way, documents_collection_creator.py:255-279)
            "embedding": {
                "dim": embedding_dim,
                "embedder": embedder_tag
                or ("hash" if embedder is None else "custom"),
            },
            **(
                {"ann": {"nPlanes": ann_planes, "seed": ann_seed}}
                if ann_planes
                else {}
            ),
            # SQ8 bounds as EXACT doubles (JSON round-trips them
            # losslessly): updates re-encode fresh vectors with these,
            # never refit — see operators/sq.py
            **({"sq8": sq8_bounds} if sq8_bounds else {}),
            # positional postings layout: exact-phrase search available
            # (searcher validates before accepting a phrase query)
            **({"phrase": {"positional": True}} if positional_postings else {}),
            # fuzzy artifacts: suggest/--fuzzy probe the materialized
            # deletion index (variant-bucket pruned); updates append to
            # a delta log compacted every compactAfter batches
            **(
                {
                    "fuzzy": {
                        "maxEdits": 1,
                        "variantBuckets": 64,
                        "compactAfter": 8,
                    }
                }
                if fuzzy_dictionary
                else {}
            ),
            **(
                {
                    "ivf": {
                        "nList": ivf_nlist,
                        "nProbe": ivf_nprobe,
                        "seed": ivf_seed,
                        "centroids": ivf_centroids,
                        **(
                            {"pq": {"m": pq_m, "kSub": pq_ksub,
                                    "codebooks": pq_codebooks}}
                            if pq_m
                            else {}
                        ),
                    }
                }
                if ivf_nlist
                else {}
            ),
        },
    )
    collection.save_manifest(manifest)
    return manifest
