"""Collection creation: canonical docs → chunk/embed/index tables.

Spark-first re-expression of the reference's create pipeline
(main/core/documents_collection_creator.py:37-71,100-192): read →
convert → save documents → enumerate chunks with global ids → feed
every indexer. Here the "indexers" are two more DataFrame writes off
the same cached chunk table — the multi-indexer fan-out of
documents_collection_creator.py:180-181 with Parquet instead of
FAISS/Chroma/SQLite.

Scale notes (100 TB):
- One pass over the corpus: chunks are written once and fanned out to
  embeddings + postings (two writes, one computation).
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

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from documents_vector_search_spark.collection.catalog import Collection
from documents_vector_search_spark.collection.manifest import Manifest
from documents_vector_search_spark.collection.vector_layout import VectorLayout
from documents_vector_search_spark.functions.hashing import md5_hash64
from documents_vector_search_spark.functions.text import tokenize
from documents_vector_search_spark.operators.bm25 import (
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


def _hash_chunk_ids(chunks: DataFrame) -> DataFrame:
    """Order-free 60-bit chunk ids from (document_id, chunk_number) —
    the scale path (no global sort; collision odds ~n²/2⁶¹)."""
    return chunks.withColumn(
        "chunk_id",
        md5_hash64(
            F.concat_ws(":", F.col("document_id"), F.col("chunk_number"))
        ),
    )


def chunk_stats(chunks: DataFrame) -> Row:
    """Chunk count ``n``, largest ``chunk_id`` ``last`` and BM25
    ``avgdl`` (mean token length) of a chunks table: the manifest's
    chunk statistics, defined once for the create, the updater's
    recount and the doctor's check. The mean of an integer column is an
    exact sum over an exact count, so it is the same double in any row
    order."""
    return chunks.agg(
        F.count("*").alias("n"),
        F.max("chunk_id").alias("last"),
        F.avg(F.size(tokenize("indexed_data"))).alias("avgdl"),
    ).first()


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

    Vector layout (collection/vector_layout.py owns these options'
    rules, the fits, the encoding and the manifest record):

    ``ann_planes`` partitions the embeddings by SRP-LSH ``bucket``
    (operators/ann.py): vector search prunes to the query's probe
    buckets at the Parquet partition level — the engine's HNSW analog
    (reference chroma_indexer.py:147-157).

    ``ivf_nlist`` is the data-aware alternative: KMeans centroids
    (IVF-Flat, operators/ivf.py) fitted once at create, embeddings
    partitioned by ``cluster_id``; a query scans ~nprobe/nlist of the
    corpus. Mutually exclusive with ``ann_planes``.

    ``pq_m`` (requires ``ivf_nlist``) adds product-quantization
    ``codes`` (the IndexIVFPQ composition, operators/pq.py): ADC over
    the codes ranks the pruned partitions and the searcher re-ranks an
    ADC shortlist against true vectors.

    ``sq8`` adds per-dimension 8-bit scalar-quantized ``codes``
    (operators/sq.py, FAISS SQ8 analog): a shortlist ranked over the
    codes, then an exact re-rank. Composes with ``ann_planes`` or
    ``ivf_nlist``; mutually exclusive with ``pq_m`` (one quantizer owns
    ``codes``).

    The fitted state (rounded centroids and codebooks, exact SQ8 bounds)
    lives in the manifest: updates re-encode fresh vectors with it, and
    only refit_ivf / refit_sq8 (collection/refit.py) move it.

    ``positional_postings`` stores sorted token offsets per (chunk,
    term) beside tf in the postings table — the layout exact-phrase
    search needs (searcher ``indexes=("phrase",)``). BM25 reads are
    unaffected (columnar scans never touch the positions bytes);
    postings bytes roughly double. Recorded in the manifest
    (``converter.phrase``); updates read that record and keep the
    layout.

    ``fuzzy_dictionary`` materializes the term dictionary and its
    SymSpell deletion index as collection tables
    (collection/fuzzy_artifacts.py) — `suggest`/`search --fuzzy` then
    probe a variant_bucket-pruned index instead of aggregating the
    postings per query; updates maintain both incrementally from the
    changed postings rows only.

    ``update_buckets`` (>= 1): every table is additionally partitioned
    by a stable ``_pb`` bucket of its delete key so incremental updates
    rewrite only affected partitions — see collection/partitioning.py
    for sizing (default 8 suits test corpora; 100 TB wants 1024+). Every
    table directory holds ONE file (catalog.Collection.write); the
    postings and field_postings files are sorted by ``term``.

    ``zorder_by=(colA, colB)``: Z-cluster the DOCUMENTS table on two
    integer-castable/timestamp columns (operators/layout.py) so range
    predicates on either prune parquet files via footer stats — the
    Delta/Iceberg OPTIMIZE ZORDER BY layout as a create option.
    Recorded in the manifest; incremental updates degrade clustering
    in the rewritten buckets only, and compact_collection re-clusters
    them from the record (the standard ingest-then-OPTIMIZE lifecycle).
    """
    layout = VectorLayout.for_create(
        embedding_dim,
        ann_planes=ann_planes, ann_seed=ann_seed,
        ivf_nlist=ivf_nlist, ivf_nprobe=ivf_nprobe, ivf_seed=ivf_seed,
        pq_m=pq_m, pq_ksub=pq_ksub, sq8=sq8,
    )
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

    # the manifest's converter record, known before any write: every
    # table write takes its directory layout from it (catalog.
    # write_layout); the embeddings fit fills in the fitted state below
    converter = {
        "splitter": {"chunkSize": chunk_size, "chunkOverlap": chunk_overlap},
        "idStrategy": "counter" if contiguous_ids else "hash",
        # chunk-0-from-text topology (reference converter parity);
        # updates must rebuild changed docs' chunks the same way
        **({"titleFromText": True} if title_from_text else {}),
        # generic-topology title column (field_text_exprs): updates
        # and deletes re-derive the same field split from this
        **({"titleCol": title_col} if title_col else {}),
        # documents-table Z-order layout: compact_collection reads
        # this to re-cluster buckets an update degraded
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
        # vector layout (ann / ivf[+pq] / sq8): updates re-encode fresh
        # vectors from this record, never refit —
        # collection/vector_layout.py
        **layout.record(),
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
    }

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
    # the Z-order range assignment is the documents layout: keep it
    collection.write(
        "documents", docs_out, converter, no_cluster=bool(zorder_by)
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
        # the global row_number window runs in ONE partition (the
        # documented bounded-batch tool); the write's bucket
        # repartition spreads its rows back out
        chunks = assign_chunk_ids(
            chunks, offset=0, id_col="document_id", chunk_number_col="chunk_number"
        )
    else:
        chunks = _hash_chunk_ids(chunks)
    collection.write(
        "chunks", chunks.withColumn(UPDATE_PB_COL, doc_pb("document_id")),
        converter,
    )
    chunks = collection.read("chunks")  # one materialized pass feeds 2 indexes

    emb_df = chunks.select(
        "chunk_id",
        embed(F.col("indexed_data")).cast("array<float>").alias("vector"),
        # every table buckets by the OWNING DOCUMENT's id (ridden from
        # the chunks table — map-only, no join): an update batch of N
        # docs then touches ≤N buckets in EVERY table, instead of the
        # batch's chunk ids spraying across all buckets (partitioning.py)
        F.col(UPDATE_PB_COL),
    )

    def _write_embeddings() -> VectorLayout:
        if not layout.needs_fit:
            collection.write("embeddings", layout.encode(emb_df), converter)
            return layout
        import shutil

        # MATERIALIZE the embeddings once before any fit (KMeans/PQ
        # iterations or the SQ8 bounds aggregation): emb_df is a lazy
        # projection over chunks, so feeding it to a fit and then the
        # layout write would re-run the embedder per pass — with a real
        # model that's multiple full corpus encodes. One parquet write
        # = one encode; every fit and the final partitioned write read
        # the materialized table.
        raw_path = collection.table_path("embeddings__raw")
        emb_df.write.mode("overwrite").parquet(raw_path)
        try:
            src = collection.spark.read.parquet(raw_path)
            fitted = layout.fit(src)
            collection.write("embeddings", fitted.encode(src), converter)
            return fitted
        finally:
            shutil.rmtree(raw_path, ignore_errors=True)

    def _write_postings() -> None:
        # carry_partitions pushes the write's _pb repartition INTO the
        # build: one exchange serves both the (id, term) aggregation
        # and the one-term-sorted-file-per-bucket layout
        # (build_postings docstring, catalog.write_layout)
        postings_df = build_postings(
            chunks, id_col="chunk_id", text_col="indexed_data", with_dl=True,
            carry_cols=[UPDATE_PB_COL],  # owning doc's bucket, see emb_df
            with_positions=positional_postings,
            carry_partitions=update_buckets,
        )
        collection.write("postings", postings_df, converter)

    def _write_field_postings() -> None:
        # document-level field postings built from the DOCUMENT text:
        # the BM25F serving index, exact under any chunk_overlap (see
        # build_field_postings — chunk-derived field tf/fl double-count
        # overlap regions). Same single-exchange fusion as postings.
        fp = build_field_postings(
            docs, title_col, title_from_text, carry_cols=[UPDATE_PB_COL],
            carry_partitions=update_buckets,
        )
        collection.write("field_postings", fp, converter)

    def _gather_doc_header():
        # doc count + watermark only — a two-column scan. The per-field
        # BM25F stats are NOT recomputed from the corpus: the
        # field_postings build already tokenized it, so they are read
        # back from the written table (_field_stats below).
        return docs.agg(
            F.count("*").alias("n"),
            F.max("last_modified_at").alias("wm"),
        ).first()

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

    # the three index builds + the manifest stats read the SAME
    # materialized chunk and document tables and are independent — run
    # them as concurrent jobs (Spark schedules actions from separate
    # driver threads side by side; on a shared cluster, pair with FAIR
    # scheduler pools). This is the multi-indexer fan-out of reference
    # documents_collection_creator.py:180-181 without its serial loop.
    from concurrent.futures import ThreadPoolExecutor

    def _fuzzy_chain(post_future) -> None:
        # chains onto the postings write (its only input) so the
        # vocabulary aggregate + deletion-index explode overlap the
        # embeddings/field_postings tails instead of serializing after
        # the whole fan-out
        from documents_vector_search_spark.collection.fuzzy_artifacts import (
            write_fuzzy_artifacts,
        )

        post_future.result()
        write_fuzzy_artifacts(collection)

    with ThreadPoolExecutor(max_workers=8) as pool:
        f_emb = pool.submit(_write_embeddings)
        f_post = pool.submit(_write_postings)
        f_fp = pool.submit(_write_field_postings)
        f_hdr = pool.submit(_gather_doc_header)
        # chunk count / max id / avgdl over the written chunks table,
        # persisted so serving never runs a corpus-stats job
        # (searcher._bm25_corpus_stats)
        f_cs = pool.submit(chunk_stats, chunks)
        f_fuzzy = (
            pool.submit(_fuzzy_chain, f_post) if fuzzy_dictionary else None
        )
        # the field-stats read-back chains onto its table write so it
        # overlaps the long postings build instead of serializing after it
        f_fp.result()
        f_fs = pool.submit(_field_stats)
        fitted = f_emb.result()
        f_post.result()
        doc_row = f_hdr.result()
        n_docs, watermark = int(doc_row["n"]), doc_row["wm"]
        stats = f_cs.result()
        field_stats = f_fs.result()
        if f_fuzzy is not None:
            f_fuzzy.result()
    n_chunks, last_id = stats["n"], stats["last"]
    converter.update(fitted.record())  # the fitted layout state
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
        converter=converter,
    )
    collection.save_manifest(manifest)
    return manifest
