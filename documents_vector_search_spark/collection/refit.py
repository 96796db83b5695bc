"""SQ8 bounds refit: the explicit maintenance op for quantizer drift.

Incremental updates NEVER refit SQ8 bounds (collection/updater.py:
fresh vectors re-encode with the manifest's fitted [min, max] and
out-of-range components clamp) because every code in the corpus must
share one scale — a per-batch refit would silently mix scales and
corrupt decoded distances. After large distribution drift the clamp
loses resolution, so the remedy is this REFIT: re-fit the per-dimension
bounds from the CURRENT corpus and re-encode every code with them.

Scale design: a refit is O(corpus) by necessity (one global scale), so
it is an explicit maintenance command — same category as compaction
(collection/compactor.py), run occasionally, never on the update path.
The rewrite is exactly two jobs over the embeddings table: one min/max
aggregation (2·dim scalars to the driver) and one map-only re-encode
written through the updater's two-phase staged swap (stage to
``__tmp`` while readers see the intact table, then swap; an
interrupted run is rolled back by the same ``_recover_orphans`` that
guards updates). When the freshly fitted bounds equal the manifest's —
no drift — the refit returns without touching a single file.

Reference context: the reference rebuilds its Chroma/FAISS index from
scratch on schema-level change (main/core/documents_collection_creator
.py); this op is the targeted equivalent for the one piece of fitted
state the SQ8 layout carries.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from documents_vector_search_spark.collection.catalog import Collection
from documents_vector_search_spark.collection.manifest import Manifest
from documents_vector_search_spark.collection.vector_layout import VectorLayout


def refit_ivf(collection: Collection, sample_rows: int | None = None) -> dict:
    """Re-fit IVF centroids (and PQ codebooks, when the layout carries
    them) from the current corpus and re-partition the embeddings table
    — the drift maintenance op for the coarse quantizer.

    Updates deliberately assign fresh vectors to the CREATE-time
    centroids (one fixed partitioning; per-batch refits would scatter
    the layout), so after large drift the clusters stop matching the
    data and probe recall decays. This refit is the remedy: one bounded
    sample fit (operators/kmeans.py), one map-only reassignment/
    re-encode, one staged-swap rewrite of the embeddings table, then
    the manifest records the new parameters. O(corpus) by necessity —
    the cluster layout is global — hence an explicit maintenance
    command beside ``compact`` and ``refit-sq8``, never on the update
    path.

    Returns ``{"refit": bool, "pq_refit": bool}``; ``refit=False``
    means the freshly fitted centroids matched the manifest exactly
    (possible only when the corpus is unchanged — the sample fit is
    deterministic) and nothing was rewritten.
    """
    from documents_vector_search_spark.collection.updater import (
        _recover_orphans,
        _swap_all,
    )

    manifest: Manifest = collection.checked_manifest()
    layout = VectorLayout.from_converter(manifest.converter)
    if not layout.ivf:
        raise ValueError(
            f"collection '{collection.name}' has no IVF layout to refit"
        )
    _recover_orphans(collection, ["embeddings"])

    emb = collection.read("embeddings")
    new = layout.fit(emb, parts=("ivf",), sample_rows=sample_rows)
    if new.ivf == layout.ivf:
        return {"refit": False, "pq_refit": False}
    # re-encode the codes ONLY when the codebooks actually moved —
    # centroids can drift while the subspace codebooks come back
    # identical, and an unchanged codebook must not cost a corpus
    # re-encode
    pq_changed = bool(new.ivf.get("pq")) and new.ivf["pq"] != layout.ivf["pq"]
    stale = ["cluster_id"] + (["codes"] if pq_changed else [])
    _swap_all(
        collection,
        {"embeddings": new.encode(emb.drop(*stale))},
        manifest.converter,
    )
    manifest.converter.update(new.record())
    manifest.touch()
    collection.save_manifest(manifest)
    return {"refit": True, "pq_refit": pq_changed}


def refit_sq8(collection: Collection) -> dict:
    """Re-fit SQ8 bounds from the current corpus and re-encode codes.

    Returns a report dict: ``{"refit": bool, "dims_drifted": int}``.
    ``refit=False`` means the fitted bounds matched the manifest exactly
    (no distribution drift) and nothing was rewritten.
    """
    from documents_vector_search_spark.collection.updater import (
        _recover_orphans,
        _swap_all,
    )

    manifest: Manifest = collection.checked_manifest()
    layout = VectorLayout.from_converter(manifest.converter)
    if not layout.sq8:
        raise ValueError(
            f"collection '{collection.name}' has no SQ8 layout to refit"
        )
    _recover_orphans(collection, ["embeddings"])

    emb = collection.read("embeddings")
    new = layout.fit(emb, parts=("sq8",))
    mins, maxs = new.sq8["mins"], new.sq8["maxs"]
    old_mins, old_maxs = layout.sq8["mins"], layout.sq8["maxs"]
    drifted = sum(
        1
        for i in range(len(mins))
        if mins[i] != old_mins[i] or maxs[i] != old_maxs[i]
    )
    if drifted == 0:
        return {"refit": False, "dims_drifted": 0}

    # the pruning column (SRP bucket or IVF cluster) and _pb stay
    _swap_all(
        collection,
        {"embeddings": new.encode(emb.drop("codes"))},
        manifest.converter,
    )
    manifest.converter.update(new.record())
    manifest.touch()
    collection.save_manifest(manifest)
    return {"refit": True, "dims_drifted": drifted}


def refit_topics(collection: Collection, sample_rows: int | None = None) -> dict:
    """Re-fit the collection's topic centroids and rebuild the stored
    ``topic_profile`` (and ``topic_terms``) tables — the drift
    maintenance op for the topic analytics the ``topics`` CLI command
    materializes.

    The topics command records its fitted centroids in the manifest
    (``converter["topics"]``), and — like IVF centroids and SQ8 bounds
    — nothing on the update path ever refits them, so after corpus
    drift the stored profile silently describes a corpus that no
    longer exists. This refit is the remedy: one bounded deterministic
    sample fit (same KMeans as create), a no-drift fast path when the
    fresh centroids match the manifest exactly, else a profile (and
    terms, when the original run labeled them) recompute written
    through the same staged ``__tmp``/``__old`` swap as every other
    maintenance rewrite. O(corpus) by necessity; explicit command
    beside ``refit-ivf`` / ``refit-sq8``, never on the update path.

    Returns ``{"refit": bool, "terms_refit": bool}``.
    """
    from documents_vector_search_spark.collection.updater import (
        _recover_orphans,
        _swap_all,
    )
    from documents_vector_search_spark.operators.topics import (
        fit_topic_centroids,
        topic_profile,
        topic_terms,
    )

    manifest: Manifest = collection.checked_manifest()
    cfg = manifest.converter.get("topics")
    if not cfg:
        raise ValueError(
            f"collection '{collection.name}' has no fitted topics to "
            "refit — run the `topics` command first"
        )
    terms_k = int(cfg.get("termsK", 0))
    tables = ["topic_profile"] + (["topic_terms"] if terms_k else [])
    _recover_orphans(collection, tables)

    emb = collection.read("embeddings").select("chunk_id", "vector")
    new_cents = fit_topic_centroids(
        emb, int(cfg["nList"]), sample_rows=sample_rows
    )
    if new_cents == cfg["centroids"]:
        return {"refit": False, "terms_refit": False}

    staged = {"topic_profile": topic_profile(emb, new_cents, vec_col="vector")}
    if terms_k:
        chunks = collection.read("chunks").select(
            "chunk_id", F.col("indexed_data").alias("text")
        )
        staged["topic_terms"] = topic_terms(
            chunks,
            emb,
            new_cents,
            k=terms_k,
            doc_id_col="chunk_id",
            vec_id_col="chunk_id",
            text_col="text",
            vec_col="vector",
        )
    _swap_all(collection, staged)
    cfg["centroids"] = new_cents
    manifest.converter["topics"] = cfg
    manifest.touch()
    collection.save_manifest(manifest)
    return {"refit": True, "terms_refit": bool(terms_k)}
