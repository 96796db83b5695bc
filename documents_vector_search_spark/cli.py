"""CLI adapters: the reference's command-line surface on Spark.

Mirrors the reference's adapter scripts (SURVEY §3):
- files_collection_create_cmd_adapter.py → ``create-files``
- jira/confluence_collection_create_cmd_adapter.py → ``create-jira`` /
  ``create-confluence`` (cloud auto-detect on '.atlassian.net')
- collection_search_cmd_adapter.py → ``search`` (defaults: 10 docs,
  chunks = docs×3, rrf_k 60 — adapter lines 18-32)
- collection_fetch_cmd_adapter.py → ``fetch`` (default lines 1-200)
- collection_update_cmd_adapter.py → ``update``

Output formats: json / json_with_indent / toon (reference
main/utils/formatting.py:5-15; see formatting.py for the TOON
implementation).
"""

from __future__ import annotations

import argparse
import json
import sys

DEFAULT_BASE = "./data/collections"


def _format(obj, fmt: str) -> str:
    from documents_vector_search_spark.formatting import format_object

    return format_object(obj, fmt)


def _collection(args):
    from documents_vector_search_spark.collection import Collection
    from documents_vector_search_spark.session import get_spark

    spark = get_spark(app_name=f"dvss-cli-{args.command}")
    return Collection(spark, args.base_path, args.collection)


def _at_least_one(text: str) -> int:
    """argparse type for counts that must be >= 1."""
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {n}")
    return n


def _create_kwargs(args) -> dict:
    """Chunking + index-layout options shared by every create command."""
    return {
        "chunk_size": args.chunk_size,
        "chunk_overlap": args.chunk_overlap,
        "ann_planes": args.ann_planes,
        "ivf_nlist": args.ivf_nlist,
        "ivf_nprobe": args.ivf_nprobe,
        "pq_m": args.pq_m,
        "sq8": args.sq8,
        "update_buckets": args.update_buckets,
        "positional_postings": args.positional_postings,
        "fuzzy_dictionary": args.fuzzy_dictionary,
        "zorder_by": (
            tuple(args.zorder_by.split(",")) if args.zorder_by else None
        ),
    }


def _record_reader(coll, manifest, reader: dict):
    """Persist the source config so `dvss update <collection>` can
    re-scan without re-specifying it — the reference's update adapter
    reconstructs its reader from the manifest the same way
    (collection_update_cmd_adapter.py + update_collection_factory.py:36)."""
    manifest.reader = reader
    coll.save_manifest(manifest)
    return manifest


def cmd_create_files(args) -> int:
    from documents_vector_search_spark.collection import create_collection
    from documents_vector_search_spark.sources.files import read_files_documents

    coll = _collection(args)
    docs = read_files_documents(
        coll.spark,
        args.path,
        include_pattern=args.include,
        exclude_pattern=args.exclude,
    )
    manifest = create_collection(coll, docs, title_from_text=True, **_create_kwargs(args))
    manifest = _record_reader(
        coll, manifest,
        {"name": "files", "path": args.path, "include": args.include,
         "exclude": args.exclude},
    )
    print(_format(manifest.__dict__, args.format))
    return 0


def cmd_create_jira(args) -> int:
    from documents_vector_search_spark.collection import create_collection
    from documents_vector_search_spark.sources.jira import read_jira_documents

    coll = _collection(args)
    docs = read_jira_documents(coll.spark, args.url, args.query, token=args.token)
    manifest = create_collection(coll, docs, title_from_text=True, **_create_kwargs(args))
    # token is NOT persisted — it comes from the environment/flag per run
    manifest = _record_reader(
        coll, manifest, {"name": "jira", "url": args.url, "query": args.query}
    )
    print(_format(manifest.__dict__, args.format))
    return 0


def cmd_create_confluence(args) -> int:
    from documents_vector_search_spark.collection import create_collection
    from documents_vector_search_spark.sources.confluence import (
        read_confluence_documents,
    )

    coll = _collection(args)
    docs = read_confluence_documents(
        coll.spark, args.url, args.query, token=args.token
    )
    manifest = create_collection(coll, docs, title_from_text=True, **_create_kwargs(args))
    manifest = _record_reader(
        coll, manifest,
        {"name": "confluence", "url": args.url, "query": args.query},
    )
    print(_format(manifest.__dict__, args.format))
    return 0


def cmd_create_dataset(args) -> int:
    """Create from a record dataset (JSONL/CSV/Parquet, one document
    per row) — the training-corpus ingestion path (sources/datasets.py)."""
    from documents_vector_search_spark.collection import create_collection
    from documents_vector_search_spark.sources.datasets import (
        read_dataset_documents,
    )

    coll = _collection(args)
    docs = read_dataset_documents(
        coll.spark,
        args.path,
        fmt=args.dataset_format,
        id_col=args.id_col,
        text_col=args.text_col,
        url_col=args.url_col,
        last_modified_col=args.last_modified_col,
        metadata_cols=args.metadata_cols.split(",") if args.metadata_cols else None,
        schema=args.schema,
    )
    manifest = create_collection(coll, docs, **_create_kwargs(args))
    manifest = _record_reader(
        coll, manifest,
        {"name": "dataset", "path": args.path, "format": args.dataset_format,
         "idCol": args.id_col, "textCol": args.text_col,
         "urlCol": args.url_col, "lastModifiedCol": args.last_modified_col,
         "metadataCols": args.metadata_cols, "schema": args.schema},
    )
    print(_format(manifest.__dict__, args.format))
    return 0


def cmd_update(args) -> int:
    """Manifest-driven incremental update (reference parity:
    collection_update_cmd_adapter.py takes only the collection name and
    reconstructs the source from the manifest)."""
    from documents_vector_search_spark.streaming.incremental import (
        incremental_confluence_update,
        incremental_dataset_update,
        incremental_files_update,
        incremental_jira_update,
    )

    coll = _collection(args)
    reader = coll.manifest().reader
    name = reader.get("name")
    if name == "dataset":
        meta = reader.get("metadataCols")
        manifest = incremental_dataset_update(
            coll, reader["path"], fmt=reader.get("format", "jsonl"),
            id_col=reader.get("idCol", "id"),
            text_col=reader.get("textCol", "text"),
            url_col=reader.get("urlCol"),
            last_modified_col=reader.get("lastModifiedCol"),
            metadata_cols=meta.split(",") if meta else None,
            schema=reader.get("schema"),
        )
    elif name == "files":
        manifest = incremental_files_update(
            coll, reader["path"],
            include_pattern=reader.get("include"),
            exclude_pattern=reader.get("exclude"),
        )
    elif name == "jira":
        manifest = incremental_jira_update(
            coll, reader["url"], reader.get("query", ""), token=args.token
        )
    elif name == "confluence":
        manifest = incremental_confluence_update(
            coll, reader["url"], reader.get("query", ""), token=args.token
        )
    else:
        raise SystemExit(
            f"collection has no updatable reader config (reader={reader!r}); "
            "use update-files, or recreate via the CLI to record one"
        )
    print(_format(manifest.__dict__, args.format))
    return 0


def cmd_search(args) -> int:
    from documents_vector_search_spark.collection import CollectionSearcher

    coll = _collection(args)
    max_chunks = args.max_chunks or args.max_documents * 3
    searcher = CollectionSearcher(coll, rrf_k=args.rrf_k)
    result = searcher.search(
        args.query,
        max_chunks=max_chunks,
        max_documents=args.max_documents,
        indexes=tuple(args.indexes.split(",")),
        metadata_filter=args.filter,
        diversify_lambda=args.diversify_lambda,
        include_snippets=args.snippets,
        expand_query=args.expand,
        fuzzy=args.fuzzy,
        ranker=args.ranker,
        document_offset=args.offset,
    )
    rows = [r.asDict(recursive=True) for r in result.collect()]
    print(_format(rows, args.format))
    return 0


def cmd_search_docs(args) -> int:
    """Document-level field-weighted ranking (BM25F over the
    chunk-0-is-title topology) — ``(document_id, score)``."""
    from documents_vector_search_spark.collection import CollectionSearcher

    coll = _collection(args)
    searcher = CollectionSearcher(coll)
    rows = searcher.search_documents_bm25f(
        args.query,
        k=args.max_documents,
        weights={"title": args.title_weight, "body": args.body_weight},
        metadata_filter=args.filter,
    ).collect()
    print(_format([r.asDict(recursive=True) for r in rows], args.format))
    return 0


def cmd_suggest(args) -> int:
    """'Did you mean' suggestions per query term."""
    from documents_vector_search_spark.collection import CollectionSearcher

    coll = _collection(args)
    searcher = CollectionSearcher(coll)
    rows = searcher.suggest(args.query, max_edits=args.max_edits).collect()
    print(_format([r.asDict(recursive=True) for r in rows], args.format))
    return 0


def cmd_facets(args) -> int:
    from documents_vector_search_spark.collection import CollectionSearcher

    coll = _collection(args)
    searcher = CollectionSearcher(coll)
    rows = searcher.facet_counts(
        [f.strip() for f in args.fields.split(",") if f.strip()],
        query=args.query or "",
        metadata_filter=args.filter,
    ).collect()
    print(_format([r.asDict(recursive=True) for r in rows], args.format))
    return 0


def cmd_fetch(args) -> int:
    from documents_vector_search_spark.collection import fetch_document_lines
    from documents_vector_search_spark.collection.fetcher import (
        DocumentNotFoundError,
    )

    coll = _collection(args)
    try:
        row = fetch_document_lines(coll, args.document_id, args.start, args.end)
    except DocumentNotFoundError:
        print(f"document not found: {args.document_id}", file=sys.stderr)
        return 1
    print(_format(row, args.format))
    return 0


def cmd_curate(args) -> int:
    """Run the single-scan curation sweep over a collection's documents
    and write the per-document profile as a parquet table beside the
    collection (or to --output)."""
    from pyspark.sql import functions as F

    from documents_vector_search_spark.operators.curation import (
        curation_sweep,
    )

    coll = _collection(args)
    docs = coll.read("documents").select(
        F.col("id").alias("doc_id"), F.col("text")
    )
    profile = curation_sweep(docs)
    out = args.output or f"{args.base_path}/{args.collection}/curation_profile"
    profile.write.mode("overwrite").parquet(out)
    n = coll.spark.read.parquet(out).count()
    print(_format({"profiledDocuments": n, "output": out}, args.format))
    return 0


def cmd_domains(args) -> int:
    """Per-host URL profile of a collection (operators/urls.py): doc
    counts, URL-dedup ratio (distinct normalized URLs / docs), and
    registered domains — the provenance report read before blocklist
    or mixing decisions. One map-only normalize + one host-keyed agg."""
    from pyspark.sql import functions as F

    from documents_vector_search_spark.operators.urls import url_report

    coll = _collection(args)
    docs = coll.read("documents").select(
        F.col("id").alias("doc_id"), F.col("url")
    )
    rep = url_report(docs)
    profile = (
        rep.groupBy("host")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count_distinct("norm_url").cast("bigint").alias("n_urls"),
            F.first("domain").alias("domain"),
        )
        .withColumn(
            "dup_ratio",
            F.round(1 - F.col("n_urls") / F.col("n_docs"), 6),
        )
        .orderBy(F.col("n_docs").desc(), "host")
    )
    out = args.output or f"{args.base_path}/{args.collection}/domain_profile"
    profile.write.mode("overwrite").parquet(out)
    stored = coll.spark.read.parquet(out)
    rows = stored.orderBy(F.col("n_docs").desc(), "host").limit(10).collect()
    print(
        _format(
            {
                "hosts": stored.count(),
                "topHosts": [
                    {"host": r.host, "nDocs": r.n_docs, "dupRatio": r.dup_ratio}
                    for r in rows
                ],
                "output": out,
            },
            args.format,
        )
    )
    return 0


def cmd_span_dedup(args) -> int:
    """Cross-document repeated-span (exact substring) report over a
    collection's documents — the Lee et al. 2022 boilerplate check
    (operators/dedup.py::repeated_span_report); writes the per-document
    (n_spans, dup_spans, dup_ratio) parquet beside the collection."""
    from pyspark.sql import functions as F

    from documents_vector_search_spark.operators.dedup import (
        repeated_span_report,
    )

    coll = _collection(args)
    docs = coll.read("documents").select(
        F.col("id").alias("doc_id"), F.col("text")
    )
    report = repeated_span_report(
        docs, span_tokens=args.span_tokens, min_docs=args.min_docs
    )
    out = args.output or f"{args.base_path}/{args.collection}/span_dedup_report"
    report.write.mode("overwrite").parquet(out)
    stored = coll.spark.read.parquet(out)
    print(
        _format(
            {
                "profiledDocuments": stored.count(),
                "flaggedDocuments": stored.filter(
                    F.col("dup_ratio") >= args.min_ratio
                ).count(),
                "minRatio": args.min_ratio,
                "output": out,
            },
            args.format,
        )
    )
    return 0


def cmd_dedup(args) -> int:
    """Near-duplicate maintenance over a collection's documents:
    MinHash-LSH verified pairs (operators/dedup.py) → connected
    components (operators/cc.py) → keep the minimum id per cluster.
    Writes the keep/drop report beside the collection; with ``--apply``
    DELETES the drops from every table
    (collection/updater.py::delete_documents — O(affected buckets)).
    The periodic de-duplication pass a long-lived deployment runs."""
    from pyspark.sql import functions as F

    from documents_vector_search_spark.operators.cc import (
        connected_components,
    )
    from documents_vector_search_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    coll = _collection(args)
    docs = coll.read("documents").select(F.col("id").alias("doc_id"), "text")
    pairs = minhash_lsh_pairs(
        docs,
        threshold=args.threshold,
        num_hashes=args.num_hashes,
        bands=args.bands,
        max_bucket_size=args.max_bucket,
    )
    # connected_components' convergence check needs NUMERIC node ids
    # (sum-of-labels fixpoint, operators/cc.py:26); collection ids are
    # strings, so cluster on xxhash64 surrogates (map-only; a 64-bit
    # collision merging two clusters is ~n²/2⁶⁴ — negligible for a
    # maintenance pass) and map back to take the MIN STRING id per
    # component as the canonical survivor.
    hpairs = pairs.select(
        F.xxhash64("id_a").alias("id_a"), F.xxhash64("id_b").alias("id_b")
    )
    comp = connected_components(hpairs)  # (id=hash, cluster_id=min hash)
    nodes = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
        .withColumn("_h", F.xxhash64("id"))
    )
    mapped = nodes.join(comp, nodes["_h"] == comp["id"]).select(
        nodes["id"], F.col("cluster_id").alias("_c")
    )
    canon = mapped.groupBy("_c").agg(F.min("id").alias("cluster_id"))
    report = (
        mapped.join(canon, "_c")
        .select("id", "cluster_id")
        .withColumn("keep", F.col("id") == F.col("cluster_id"))
    )
    out = args.output or f"{args.base_path}/{args.collection}/dedup_report"
    report.write.mode("overwrite").parquet(out)
    stored = coll.spark.read.parquet(out)
    n_clustered = stored.count()
    n_drop = stored.filter(~F.col("keep")).count()
    # count BEFORE any apply: the docs plan snapshots the pre-delete
    # file listing, so evaluating it after the swap would read
    # swapped-out paths
    n_docs = docs.count()
    applied = False
    if args.apply and n_drop:
        from documents_vector_search_spark.collection.updater import (
            delete_documents,
        )

        delete_documents(coll, stored.filter(~F.col("keep")).select("id"))
        applied = True
    print(
        _format(
            {
                "documents": n_docs,
                "clusteredDocuments": n_clustered,
                "clusters": n_clustered - n_drop,
                "duplicates": n_drop,
                "applied": applied,
                "output": out,
            },
            args.format,
        )
    )
    return 0


def cmd_url_dedup(args) -> int:
    """URL-keyed first-wins dedup over a collection's documents — the
    zero-content-comparison maintenance tier (operators/urls.py,
    PSL-aware domains): canonicalize every document's url, keep the
    minimum id per normal form, write the keep/drop report beside the
    collection; ``--apply`` DELETES the drops through the
    O(affected-buckets) updater. Documents with a null/empty url are
    excluded from the report entirely and always kept."""
    from pyspark.sql import functions as F

    from documents_vector_search_spark.operators.urls import (
        url_dedup_report,
    )

    coll = _collection(args)
    docs = coll.read("documents").select(
        F.col("id").alias("doc_id"), "url"
    ).filter(F.col("url").isNotNull() & (F.col("url") != ""))
    report = url_dedup_report(docs)
    out = args.output or f"{args.base_path}/{args.collection}/url_dedup_report"
    report.write.mode("overwrite").parquet(out)
    stored = coll.spark.read.parquet(out)
    n_drop = stored.filter(~F.col("keep")).count()
    n_urls = stored.select("norm_url").distinct().count()
    n_docs = stored.count()
    applied = False
    if args.apply and n_drop:
        from documents_vector_search_spark.collection.updater import (
            delete_documents,
        )

        delete_documents(
            coll,
            stored.filter(~F.col("keep")).select(F.col("doc_id").alias("id")),
        )
        applied = True
    print(
        _format(
            {
                "documentsWithUrl": n_docs,
                "normalizedUrls": n_urls,
                "duplicates": n_drop,
                "applied": applied,
                "output": out,
            },
            args.format,
        )
    )
    return 0


def cmd_topics(args) -> int:
    """Topic profile (+ optional tf-idf term labels) over a
    collection's chunk embeddings (operators/topics.py) — the
    cluster-based data-selection report. Fits KMeans(--nlist) on the
    collection's own vectors (bounded deterministic sample), writes
    ``topic_profile/`` (and ``topic_terms/`` with --terms-k) parquet
    beside the collection, prints a summary."""
    from pyspark.sql import functions as F

    from documents_vector_search_spark.operators.ivf import (
        fit_ivf,
        round_centroids,
    )
    from documents_vector_search_spark.operators.topics import (
        topic_profile,
        topic_terms,
    )

    coll = _collection(args)
    emb = coll.read("embeddings").select("chunk_id", "vector")
    cents = round_centroids(
        fit_ivf(
            emb, nlist=args.nlist, id_col="chunk_id", vector_col="vector"
        ).centroids
    )
    prof = topic_profile(emb, cents, vec_col="vector")
    base = f"{args.base_path}/{args.collection}"
    prof_out = f"{base}/topic_profile"
    prof.write.mode("overwrite").parquet(prof_out)
    # record the fitted centroids like IVF/SQ8 record theirs, so
    # `refit-topics` can detect drift and rebuild the stored profile
    manifest = coll.manifest()
    manifest.converter["topics"] = {
        "nList": args.nlist,
        "centroids": cents,
        "termsK": args.terms_k or 0,
    }
    coll.save_manifest(manifest)
    stored = coll.spark.read.parquet(prof_out)
    # nlist-row presentation collect
    biggest = stored.orderBy(F.col("n_docs").desc(), "topic_id").first()
    summary = {
        "topics": stored.count(),
        "chunksProfiled": int(
            stored.agg(F.sum("n_docs").alias("n")).first()["n"]
        ),
        "largestTopic": {
            "topic_id": biggest["topic_id"],
            "share": biggest["share"],
        },
        "profileOutput": prof_out,
    }
    if args.terms_k:
        chunks = coll.read("chunks").select(
            "chunk_id", F.col("indexed_data").alias("text")
        )
        terms = topic_terms(
            chunks,
            emb,
            cents,
            k=args.terms_k,
            doc_id_col="chunk_id",
            vec_id_col="chunk_id",
            text_col="text",
            vec_col="vector",
        )
        terms_out = f"{base}/topic_terms"
        terms.write.mode("overwrite").parquet(terms_out)
        summary["termsOutput"] = terms_out
    print(_format(summary, args.format))
    return 0


def cmd_compact(args) -> int:
    """Compact fragmented update buckets (collection/compactor.py) —
    the OPTIMIZE step a long-lived, frequently-updated collection runs
    periodically."""
    from documents_vector_search_spark.collection import compact_collection

    coll = _collection(args)
    report = compact_collection(coll, max_files_per_dir=args.max_files)
    print(_format(report or {"compacted": "nothing to do"}, args.format))
    return 0


def cmd_zorder(args) -> int:
    """Rewrite a parquet dataset Z-order-clustered on two integer
    columns (operators/layout.py) — the OPTIMIZE ZORDER analog for
    plain parquet: every output file covers a narrow min/max box in
    BOTH columns, so range predicates on either prune files."""
    from documents_vector_search_spark.operators.layout import zorder_layout
    from documents_vector_search_spark.session import get_spark

    spark = get_spark()
    df = spark.read.parquet(args.input)
    out = zorder_layout(
        df, args.col_a, args.col_b, num_files=args.num_files
    )
    if not args.keep_key:
        out = out.drop("_z")
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(_format(
        {"input": args.input, "output": args.output, "rows": n,
         "cols": [args.col_a, args.col_b], "numFiles": args.num_files},
        args.format,
    ))
    return 0


def cmd_anomaly(args) -> int:
    """Trailing-baseline anomaly scan over an event parquet
    (operators/timeseries.py::rolling_zscore): per-series daily totals
    scored against their prior window; the flag is a pure integer
    inequality. Prints flagged days (or all scored days with --all);
    exit 1 when anomalies exist so cron/CI can gate on it."""
    from documents_vector_search_spark.operators.timeseries import (
        rolling_zscore,
    )
    from documents_vector_search_spark.session import get_spark

    spark = get_spark()
    scored = rolling_zscore(
        spark.read.parquet(args.input),
        series_col=args.series_col,
        ts_col=args.ts_col,
        value_col=args.value_col,
        window_days=args.window,
        threshold=args.threshold,
    )
    rows = scored.collect() if args.all else scored.filter(
        scored["is_anomaly"]
    ).collect()
    n_anom = sum(1 for r in rows if r["is_anomaly"])
    print(_format(
        {
            "input": args.input,
            "windowDays": args.window,
            "threshold": args.threshold,
            "nAnomalies": n_anom,
            "days": [
                {
                    "series": r["series"],
                    "day": str(r["day"]),
                    "total": r["total"],
                    "z": r["z"],
                    "isAnomaly": bool(r["is_anomaly"]),
                }
                for r in rows
            ],
        },
        args.format,
    ))
    return 1 if n_anom else 0


def cmd_diff(args) -> int:
    """Snapshot CDC (operators/cdc.py::snapshot_diff): the changeset
    between two parquet snapshots of the same table — added / removed /
    changed row counts (and optionally the full changeset written to
    parquet for downstream merge). Exit 1 when the snapshots differ so
    a nightly pipeline can gate re-indexing on actual change."""
    from documents_vector_search_spark.operators.cdc import snapshot_diff
    from documents_vector_search_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark()
    old = spark.read.parquet(args.old)
    new = spark.read.parquet(args.new)
    keys = [c.strip() for c in args.key.split(",") if c.strip()]
    if args.compare:
        cmp_cols = [c.strip() for c in args.compare.split(",") if c.strip()]
    else:
        cmp_cols = [c for c in old.columns if c not in keys]
    changes = snapshot_diff(old, new, keys, cmp_cols)
    if args.output:
        changes.write.mode("overwrite").parquet(args.output)
        changes = spark.read.parquet(args.output)  # count what was written
    counts = {
        r["status"]: r["n"]
        for r in changes.groupBy("status")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    total = sum(counts.values())
    print(_format(
        {
            "old": args.old,
            "new": args.new,
            "keyColumns": keys,
            "compareColumns": cmp_cols,
            "added": counts.get("added", 0),
            "removed": counts.get("removed", 0),
            "changed": counts.get("changed", 0),
            "totalChanges": total,
            "changesetPath": args.output,
        },
        args.format,
    ))
    return 1 if total else 0


def cmd_scd2(args) -> int:
    """Type-2 SCD fold (operators/cdc.py::scd2_apply): fold a changes
    parquet (attributes + an effective-timestamp column) into an open
    dimension parquet, writing the full version history
    (valid_from/valid_to/is_current, no-op versions collapsed). The
    warehouse-MERGE companion to `diff` — diff a nightly dump, then
    scd2 the changeset into the history table."""
    from pyspark.sql import functions as F

    from documents_vector_search_spark.operators.cdc import scd2_apply
    from documents_vector_search_spark.session import get_spark

    spark = get_spark()
    current = spark.read.parquet(args.current)
    changes = spark.read.parquet(args.changes)
    keys = [c.strip() for c in args.key.split(",") if c.strip()]
    if args.attrs:
        attrs = [c.strip() for c in args.attrs.split(",") if c.strip()]
    else:
        attrs = [
            c
            for c in current.columns
            if c not in keys and c != args.effective_ts_col
        ]
    history = scd2_apply(
        current, changes, keys, attrs, effective_ts_col=args.effective_ts_col
    )
    history.write.mode("overwrite").parquet(args.output)
    written = spark.read.parquet(args.output)
    stats = written.agg(
        F.count(F.lit(1)).alias("versions"),
        F.sum(F.col("is_current").cast("int")).alias("open_rows"),
        F.count_distinct(*[F.col(k) for k in keys]).alias("keys"),
    ).first()
    print(_format(
        {
            "current": args.current,
            "changes": args.changes,
            "keyColumns": keys,
            "attrColumns": attrs,
            "historyPath": args.output,
            "versions": stats["versions"],
            "openRows": stats["open_rows"],
            "keys": stats["keys"],
        },
        args.format,
    ))
    return 0


def cmd_pagerank(args) -> int:
    """Graph importance over an edge parquet (operators/graph.py::
    pagerank): the host-graph quality prior of a web-corpus curation
    pipeline. Prints the top-k nodes; optionally writes the full rank
    table for joining back onto documents."""
    from documents_vector_search_spark.operators.graph import pagerank
    from documents_vector_search_spark.session import get_spark

    spark = get_spark()
    edges = spark.read.parquet(args.edges)
    if args.seeds:
        from documents_vector_search_spark.operators.graph import (
            personalized_pagerank,
        )

        ranks = personalized_pagerank(
            edges,
            seeds=[s.strip() for s in args.seeds.split(",") if s.strip()],
            src=args.src_col,
            dst=args.dst_col,
            weight=args.weight_col,
            iterations=args.iterations,
            damping_pct=args.damping_pct,
        )
    else:
        ranks = pagerank(
            edges,
            src=args.src_col,
            dst=args.dst_col,
            weight=args.weight_col,
            iterations=args.iterations,
            damping_pct=args.damping_pct,
        )
    if args.output:
        ranks.write.mode("overwrite").parquet(args.output)
        ranks = spark.read.parquet(args.output)
    from pyspark.sql import functions as F

    top = ranks.orderBy(F.desc("rank_micro"), "node").limit(args.top).collect()
    print(_format(
        {
            "edges": args.edges,
            "iterations": args.iterations,
            "dampingPct": args.damping_pct,
            "ranksPath": args.output,
            "top": [
                {"node": r["node"], "rank": r["rank"],
                 "rankMicro": r["rank_micro"]}
                for r in top
            ],
        },
        args.format,
    ))
    return 0


def cmd_refit_sq8(args) -> int:
    """Re-fit SQ8 quantizer bounds after distribution drift
    (collection/refit.py) — O(corpus) by design, so it is an explicit
    maintenance command like ``compact``, never part of ``update``."""
    from documents_vector_search_spark.collection import refit_sq8

    coll = _collection(args)
    print(_format(refit_sq8(coll), args.format))
    return 0


def cmd_delete(args) -> int:
    """Remove documents by id from every table — the
    right-to-be-forgotten operation (collection/updater.py::
    delete_documents). O(affected update buckets)."""
    from documents_vector_search_spark.collection import delete_documents

    coll = _collection(args)
    manifest = delete_documents(coll, args.ids)
    print(_format(
        {"remainingDocuments": manifest.numberOfDocuments,
         "remainingChunks": manifest.numberOfChunks},
        args.format,
    ))
    return 0


def cmd_stats(args) -> int:
    """Collection health at a glance: the manifest plus per-table row
    counts (the reference prints its manifest after create/update; this
    adds the table census a long-lived deployment actually checks)."""
    from dataclasses import asdict

    coll = _collection(args)
    print(_format(
        {"manifest": asdict(coll.manifest()), "rowCounts": coll.counts()},
        args.format,
    ))
    return 0


def cmd_similar(args) -> int:
    """More-like-this: the documents most similar to a STORED document
    (collection/searcher.py::more_like_this) — vector method pools the
    source's chunk vectors and probes the vector index; bm25 method
    selects the source's most informative terms (tf·idf, the Lucene
    MoreLikeThis recipe) and runs a disjunctive BM25F query."""
    from documents_vector_search_spark.collection import CollectionSearcher

    coll = _collection(args)
    searcher = CollectionSearcher(coll)
    rows = searcher.more_like_this(
        args.document_id,
        k=args.k,
        method=args.method,
        max_terms=args.max_terms,
        metadata_filter=args.filter,
    ).collect()
    print(_format(
        [{"document_id": r.document_id, "score": r.score} for r in rows],
        args.format,
    ))
    return 0


def cmd_doctor(args) -> int:
    """Collection integrity scan (collection/doctor.py): manifest
    counts vs stored truth, derived-table 1:1 invariants, incremental-
    stat drift (avgdl, BM25F fieldStats), staging leftovers, fuzzy
    delta-log orphans; --deep adds referential scans. Exit 1 when any
    check fails so cron/CI can gate on it."""
    from documents_vector_search_spark.collection.doctor import doctor_report

    coll = _collection(args)
    report = doctor_report(coll, deep=args.deep)
    print(_format(report, args.format))
    return 0 if report["ok"] else 1


def cmd_profile(args) -> int:
    """Per-column data-quality profile of ANY parquet path
    (operators/profiling.py::table_profile): nulls, distincts, min/max,
    string lengths — the first look at an unfamiliar drop, before any
    pipeline trusts it. One aggregation pass however many columns."""
    from documents_vector_search_spark.operators.profiling import (
        table_profile,
    )
    from documents_vector_search_spark.session import get_spark

    spark = get_spark()
    rows = table_profile(
        spark.read.parquet(args.path), exact_distinct=args.exact
    ).collect()
    print(_format(
        {
            "path": args.path,
            "nRows": rows[0]["n_rows"] if rows else 0,
            "columns": [
                {
                    "column": r["column"],
                    "dtype": r["dtype"],
                    "nNulls": r["n_nulls"],
                    "nullFrac": r["null_frac"],
                    "nDistinct": r["n_distinct"],
                    "min": r["min"],
                    "max": r["max"],
                    "avgLen": r["avg_len"],
                }
                for r in rows
            ],
        },
        args.format,
    ))
    return 0


def cmd_fk(args) -> int:
    """Referential-integrity probe between two parquet paths
    (operators/profiling.py::fk_check): how many child rows point at a
    key absent from the parent — exit 1 when orphans exceed the
    tolerance, so a load pipeline can gate on it like `doctor`."""
    from documents_vector_search_spark.operators.profiling import fk_check
    from documents_vector_search_spark.session import get_spark

    spark = get_spark()
    keys = [
        tuple(k.split("=", 1)) if "=" in k else k
        for k in args.key
    ]
    rep = fk_check(
        spark.read.parquet(args.child),
        spark.read.parquet(args.parent),
        keys,
        sample=args.sample,
    )
    print(_format(
        {
            "child": args.child,
            "parent": args.parent,
            "childRows": rep["child_rows"],
            "orphanRows": rep["orphan_rows"],
            "orphanFrac": rep["orphan_frac"],
            "sample": [list(s) for s in rep["sample"]],
        },
        args.format,
    ))
    # gate on the UNROUNDED ratio: orphan_frac is rounded to 6 places
    # for display, so 4e-7 would read 0.0 and slip past a zero
    # tolerance despite real orphan rows (ADVICE r11)
    frac = (
        rep["orphan_rows"] / rep["child_rows"] if rep["child_rows"] else 0.0
    )
    return 1 if frac > args.max_orphan_frac else 0


def cmd_dau(args) -> int:
    """Rolling DAU/WAU active-user curve over an events parquet
    (operators/timeseries.py::active_users); ``--kmv K`` switches to
    the bounded-state KMV estimate (dau_kmv — the batch anchor of the
    streaming dau_stream twin)."""
    from documents_vector_search_spark.operators.timeseries import (
        active_users,
        dau_kmv,
    )
    from documents_vector_search_spark.session import get_spark

    spark = get_spark()
    if args.kmv:
        rows = dau_kmv(
            spark.read.parquet(args.path),
            user_col=args.user_col,
            ts_col=args.ts_col,
            k=args.kmv,
        ).collect()
        print(_format(
            {
                "path": args.path,
                "k": args.kmv,
                "days": [
                    {
                        "day": str(r["day"]),
                        "kUsed": r["k_used"],
                        "estDau": r["est_dau"],
                    }
                    for r in rows
                ],
            },
            args.format,
        ))
        return 0
    rows = active_users(
        spark.read.parquet(args.path),
        window_days=args.window_days,
        user_col=args.user_col,
        ts_col=args.ts_col,
    ).collect()
    print(_format(
        {
            "path": args.path,
            "windowDays": args.window_days,
            "days": [
                {"day": str(r["day"]), "dau": r["dau"], "wau": r["wau"]}
                for r in rows
            ],
        },
        args.format,
    ))
    return 0


def cmd_psi(args) -> int:
    """Population Stability Index between two time slices of an events
    parquet (operators/drift.py::psi_report): side A is everything
    before ``--cut``; exits 1 when total PSI exceeds ``--max-psi``
    (the doctor/fk gate convention — 0.25 is the classic 'drifted'
    threshold)."""
    from pyspark.sql import functions as F

    from documents_vector_search_spark.operators.drift import psi_report
    from documents_vector_search_spark.session import get_spark

    spark = get_spark()
    rows = psi_report(
        spark.read.parquet(args.path),
        F.col(args.ts_col) < F.to_timestamp(F.lit(args.cut)),
        value_col=args.value_col,
        n_bins=args.bins,
        lo=args.lo,
        hi=args.hi,
    ).collect()
    total = round(sum(r["psi_c"] for r in rows), 7)
    print(_format(
        {
            "path": args.path,
            "cut": args.cut,
            "totalPsi": total,
            "bins": [
                {
                    "bin": r["bin"],
                    "aCnt": r["a_cnt"],
                    "bCnt": r["b_cnt"],
                    "psi": r["psi_c"],
                }
                for r in rows
            ],
        },
        args.format,
    ))
    return 1 if total > args.max_psi else 0


def cmd_burst(args) -> int:
    """Per-user burstiness profile over an events parquet
    (operators/timeseries.py::user_burstiness), top users by
    Goh-Barabási B descending — the bot-triage shortlist."""
    from documents_vector_search_spark.operators.timeseries import (
        user_burstiness,
    )
    from documents_vector_search_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark()
    rows = (
        user_burstiness(
            spark.read.parquet(args.path),
            user_col=args.user_col,
            ts_col=args.ts_col,
            min_gaps=args.min_gaps,
        )
        .orderBy(F.col("burstiness").desc_nulls_last(), F.col("user"))
        .limit(args.top)
        .collect()
    )
    print(_format(
        {
            "path": args.path,
            "top": [
                {
                    "user": str(r["user"]),
                    "nEvents": r["n_events"],
                    "meanGapS": r["mean_gap_s"],
                    "cv": r["cv"],
                    "burstiness": r["burstiness"],
                }
                for r in rows
            ],
        },
        args.format,
    ))
    return 0


def cmd_decon_rate(args) -> int:
    """Per-suite benchmark contamination rate (operators/
    decontamination.py::benchmark_contamination_rate) between a
    training parquet and a benchmark parquet; exits 1 when any suite's
    rate exceeds ``--max-rate`` (the signoff gate)."""
    from documents_vector_search_spark.operators.decontamination import (
        benchmark_contamination_rate,
    )
    from documents_vector_search_spark.session import get_spark

    spark = get_spark()
    rows = benchmark_contamination_rate(
        spark.read.parquet(args.train),
        spark.read.parquet(args.bench),
        n=args.n,
        min_hits=args.min_hits,
        suite_col=args.suite_col,
    ).collect()
    print(_format(
        {
            "train": args.train,
            "bench": args.bench,
            "suites": [
                {
                    "suite": str(r["suite"]),
                    "nBenchDocs": r["n_bench_docs"],
                    "nCompromised": r["n_compromised"],
                    "rate": r["contamination_rate"],
                }
                for r in rows
            ],
        },
        args.format,
    ))
    worst = max((r["contamination_rate"] for r in rows), default=0.0)
    return 1 if worst > args.max_rate else 0


def cmd_unimax(args) -> int:
    """UniMax language-budget allocation over a documents parquet
    (operators/sampling.py::unimax_allocation): whitespace token counts
    per language, water-filled under per-language epoch caps."""
    from pyspark.sql import functions as F

    from documents_vector_search_spark.functions.text import WS_RUN_RE
    from documents_vector_search_spark.operators.sampling import (
        unimax_allocation,
    )
    from documents_vector_search_spark.session import get_spark

    spark = get_spark()
    docs = spark.read.parquet(args.path)
    ws = F.size(
        F.filter(F.split(F.col(args.text_col), WS_RUN_RE), lambda t: t != "")
    ).cast("bigint")
    staged = docs.select(
        F.col(args.lang_col).alias("lang"), ws.alias("ws_tokens")
    )
    rows = unimax_allocation(
        staged, args.budget_tokens, max_epochs=args.max_epochs
    ).collect()
    print(_format(
        {
            "path": args.path,
            "budgetTokens": args.budget_tokens,
            "maxEpochs": args.max_epochs,
            "languages": [
                {
                    "lang": r["lang"],
                    "nDocs": r["n_docs"],
                    "tokensTotal": r["tokens_total"],
                    "capTokens": r["cap_tokens"],
                    "allocTokens": r["alloc_tokens"],
                    "epochsUsed": r["epochs_used"],
                }
                for r in rows
            ],
        },
        args.format,
    ))
    return 0


def cmd_skew(args) -> int:
    """Shuffle-key skew diagnostics over a collection table column
    (operators/profiling.py::skew_report): heaviest keys, row share,
    and the salt bucket count that would level each — the planning
    check before keying a maintenance pipeline on a candidate column."""
    from documents_vector_search_spark.operators.profiling import (
        skew_report,
    )

    coll = _collection(args)
    rows = skew_report(
        coll.read(args.table), args.key, top_k=args.top
    ).collect()
    print(_format(
        {
            "table": args.table,
            "key": args.key,
            "topKeys": [
                {
                    "key": r.key,
                    "n": r.n,
                    "share": r.share,
                    "saltFactor": r.salt_factor,
                }
                for r in rows
            ],
        },
        args.format,
    ))
    return 0


def cmd_export_shards(args) -> int:
    """Export the collection's documents as deterministic training
    shards (operators/export.py): shard=K parquet dirs in a
    pseudo-random, engine-portable global order."""
    from documents_vector_search_spark.operators.export import (
        write_training_shards,
    )

    coll = _collection(args)
    docs = coll.read("documents")
    write_training_shards(
        docs.drop("_pb") if "_pb" in docs.columns else docs,
        args.output, n_shards=args.n_shards, id_col="id", seed=args.seed,
        max_records_per_file=args.max_records_per_file, fmt=args.shard_format,
    )
    # report from the source, not a second full pass over the export
    n = docs.count()
    print(_format(
        {"exportedDocuments": n, "shards": args.n_shards,
         "output": args.output},
        args.format,
    ))
    return 0


def cmd_refit_ivf(args) -> int:
    """Re-fit IVF centroids (and PQ codebooks) after distribution
    drift (collection/refit.py) — O(corpus) maintenance, like
    ``compact`` and ``refit-sq8``."""
    from documents_vector_search_spark.collection import refit_ivf

    coll = _collection(args)
    print(_format(refit_ivf(coll), args.format))
    return 0


def cmd_refit_topics(args) -> int:
    """Re-fit topic centroids and rebuild the stored topic profile /
    term labels after drift (collection/refit.py) — O(corpus)
    maintenance, like ``refit-ivf``; requires a prior ``topics`` run
    (which records its fit in the manifest)."""
    from documents_vector_search_spark.collection import refit_topics

    coll = _collection(args)
    print(_format(refit_topics(coll), args.format))
    return 0


def cmd_evaluate(args) -> int:
    """Offline retrieval evaluation against this collection: run a
    query set through the batched searcher (ONE pass per index for all
    queries) and score the document rankings against graded qrels with
    nDCG/MRR/P/R/AP@k (operators/ir_eval.py).

    --queries: JSON file {"qid": "query text", ...}
    --qrels:   parquet/csv with columns (qid, doc_id, rel) — doc_id is
               the collection document id, rel >= 1 means relevant.
    """
    import json as _json

    from documents_vector_search_spark.collection import CollectionSearcher
    from documents_vector_search_spark.operators.ir_eval import (
        ranking_metrics,
    )

    coll = _collection(args)
    with open(args.queries) as fh:
        queries = _json.load(fh)
    if not isinstance(queries, dict) or not queries:
        raise SystemExit("--queries must be a non-empty JSON object")
    spark = coll.spark
    reader = spark.read
    if args.qrels.endswith(".csv"):
        qrels = reader.option("header", "true").option(
            "inferSchema", "true"
        ).csv(args.qrels)
    else:
        qrels = reader.parquet(args.qrels)

    from pyspark.sql import functions as FF

    from pyspark.sql import Window as W

    searcher = CollectionSearcher(coll, cache_tables=True)
    if args.indexes == "bm25f":
        # document-level field-weighted branch: one pruned scan for all
        # queries (search_documents_bm25f_many), ranks from the
        # (score desc, id asc) total order
        ranked = searcher.search_documents_bm25f_many(
            queries, k=args.k
        ).select("qid", FF.col("document_id").alias("doc_id"), "score")
        ranked = ranked.withColumn(
            "rank",
            FF.row_number().over(
                W.partitionBy("qid").orderBy(
                    FF.col("score").desc(), FF.col("doc_id").asc()
                )
            ),
        ).drop("score")
    else:
        ranked = searcher.search_many(
            queries,
            max_chunks=max(args.k * 3, 15),
            max_documents=args.k,
            indexes=tuple(args.indexes.split(",")),
            ranker=args.ranker,
        ).select("qid", FF.col("document_id").alias("doc_id"), "doc_rank")
        # doc_rank is the best CHUNK rank (not dense per document) —
        # densify to the 1-based per-query document rank the metrics
        # expect
        ranked = ranked.withColumn(
            "rank",
            FF.row_number().over(
                W.partitionBy("qid").orderBy(
                    FF.col("doc_rank").asc(), FF.col("doc_id").asc()
                )
            ),
        ).drop("doc_rank")
    metrics = ranking_metrics(
        ranked,
        qrels.select(
            FF.col("qid").cast("string"),
            FF.col("doc_id").cast("string"),
            FF.col("rel").cast("int"),
        ),
        args.k,
        id_col="doc_id",
    ).orderBy("qid")
    rows = [r.asDict(recursive=True) for r in metrics.collect()]
    # trec_eval convention: a query that retrieved NOTHING still counts
    # in the mean, as zeros (ranking_metrics can only see retrieved
    # queries, so add the all-zero rows here)
    seen = {r["qid"] for r in rows}
    for qid in sorted(queries):
        if qid not in seen:
            rows.append(
                {"qid": qid, "ndcg": 0.0, "mrr": 0.0, "precision": 0.0,
                 "recall": 0.0, "ap": 0.0}
            )
    rows.sort(key=lambda r: r["qid"])
    if rows:
        means = {
            m: round(sum(r[m] for r in rows) / len(rows), 6)
            for m in ("ndcg", "mrr", "precision", "recall", "ap")
        }
        rows.append({"qid": "__mean__", **means})
    print(_format(rows, args.format))
    return 0


def cmd_complete(args) -> int:
    """Autocomplete: frequency-ranked vocabulary terms with a prefix —
    the materialized vocab table when present (fuzzy-dictionary
    collections), else derived from postings."""
    from documents_vector_search_spark.operators.fuzzy import (
        build_term_dictionary,
        suggest_prefix,
    )

    coll = _collection(args)
    try:
        has_vocab = bool(coll.manifest().converter.get("fuzzy"))
    except FileNotFoundError:
        has_vocab = False
    if has_vocab:
        from documents_vector_search_spark.collection.fuzzy_artifacts import (
            read_vocab,
        )

        vocab = read_vocab(coll)  # base + delta-log fold
    else:
        vocab = build_term_dictionary(
            coll.read("postings").select("chunk_id", "term", "tf")
        )
    rows = suggest_prefix(vocab, args.prefix, args.k).collect()
    print(_format([r.asDict(recursive=True) for r in rows], args.format))
    return 0


def cmd_refit_fuzzy(args) -> int:
    """(Re)build the fuzzy dictionary + deletion index from the
    postings table — enables fuzzy artifacts on an existing collection
    and recovers a dictionary left stale by a crash between an
    update's main swap and its fuzzy apply. Implemented as a forced
    compaction: staged build + swap, delta log retired with it."""
    from documents_vector_search_spark.collection.fuzzy_artifacts import (
        compact_fuzzy_artifacts,
    )

    coll = _collection(args)
    compact_fuzzy_artifacts(coll)
    manifest = coll.manifest()
    manifest.converter.setdefault(
        "fuzzy", {"maxEdits": 1, "variantBuckets": 64, "compactAfter": 8}
    )
    coll.save_manifest(manifest)
    print(_format({"collection": coll.name, "fuzzy": manifest.converter["fuzzy"]},
                  args.format))
    return 0


def cmd_search_many(args) -> int:
    """Batch search: all queries answered in one job (one scan per
    index — CollectionSearcher.search_many); results keyed by qid
    q0..qN in argument order."""
    from documents_vector_search_spark.collection import CollectionSearcher

    coll = _collection(args)
    searcher = CollectionSearcher(coll, rrf_k=args.rrf_k)
    texts = {f"q{i}": q for i, q in enumerate(args.queries)}
    result = searcher.search_many(
        texts,
        max_chunks=args.max_chunks or args.max_documents * 3,
        max_documents=args.max_documents,
        indexes=tuple(args.indexes.split(",")),
        ranker=args.ranker,
        fuzzy=args.fuzzy,
        metadata_filter=args.filter,
        diversify_lambda=args.diversify_lambda,
    )
    rows = [r.asDict(recursive=True) for r in result.collect()]
    print(_format(rows, args.format))
    return 0


def cmd_explain(args) -> int:
    """Print the physical plan of a search — the operator-level debug
    view (PartitionFilters/PushedFilters/broadcasts are where this
    engine's scale behavior is visible)."""
    from documents_vector_search_spark.collection import CollectionSearcher

    coll = _collection(args)
    searcher = CollectionSearcher(coll)
    df = searcher.search(
        args.query,
        max_documents=args.max_documents,
        indexes=tuple(args.indexes.split(",")),
        metadata_filter=args.filter,
    )
    print(df._jdf.queryExecution().executedPlan().toString())
    return 0


def cmd_update_files(args) -> int:
    from documents_vector_search_spark.streaming.incremental import (
        incremental_files_update,
    )

    coll = _collection(args)
    manifest = incremental_files_update(coll, args.path)
    print(_format(manifest.__dict__, args.format))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dvss", description=__doc__)
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp, create=False):
        sp.add_argument("collection")
        sp.add_argument("--base-path", default=DEFAULT_BASE)
        sp.add_argument(
            "--format",
            choices=["json", "json_with_indent", "toon"],
            default="json_with_indent",
        )
        if create:
            sp.add_argument("--chunk-size", type=int, default=1000)
            sp.add_argument("--chunk-overlap", type=int, default=100)
            # index-layout opt-ins (collection/creator.py docstring):
            # SRP-LSH bucket partitioning, KMeans-IVF partitioning
            # (+ optional PQ codes), SQ8 scalar-quantized codes, and
            # the update-bucket count for O(changed) incremental merges
            sp.add_argument("--ann-planes", type=int, default=None)
            sp.add_argument("--ivf-nlist", type=int, default=None)
            sp.add_argument("--ivf-nprobe", type=int, default=2)
            sp.add_argument("--pq-m", type=int, default=None)
            sp.add_argument("--sq8", action="store_true")
            sp.add_argument("--update-buckets", type=_at_least_one, default=8)
            # positional postings: enables `search --indexes phrase`
            sp.add_argument("--positional-postings", action="store_true")
            # materialized term dictionary + SymSpell deletion index:
            # suggest/--fuzzy probe a bucket-pruned artifact
            sp.add_argument("--fuzzy-dictionary", action="store_true")
            # documents-table Z-order layout: "colA,colB" of two
            # integer-castable/timestamp columns; compact re-clusters
            sp.add_argument("--zorder-by", default=None)

    sp = sub.add_parser("create-files")
    common(sp, create=True)
    sp.add_argument("--path", required=True)
    sp.add_argument("--include")
    sp.add_argument("--exclude")
    sp.set_defaults(func=cmd_create_files)

    sp = sub.add_parser("create-dataset")
    common(sp, create=True)
    sp.add_argument("--path", required=True)
    sp.add_argument("--dataset-format", default="jsonl",
                    choices=["jsonl", "json", "csv", "parquet"])
    sp.add_argument("--id-col", default="id")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--url-col", default=None)
    sp.add_argument("--last-modified-col", default=None)
    sp.add_argument("--metadata-cols", default=None,
                    help="comma-separated columns folded into metadata")
    sp.add_argument("--schema", default=None,
                    help="explicit DDL schema (avoids a JSONL/CSV inference scan)")
    sp.set_defaults(func=cmd_create_dataset)

    sp = sub.add_parser("create-jira")
    common(sp, create=True)
    sp.add_argument("--url", required=True)
    sp.add_argument("--query", required=True)
    sp.add_argument("--token")
    sp.set_defaults(func=cmd_create_jira)

    sp = sub.add_parser("create-confluence")
    common(sp, create=True)
    sp.add_argument("--url", required=True)
    sp.add_argument("--query", default="")
    sp.add_argument("--token")
    sp.set_defaults(func=cmd_create_confluence)

    sp = sub.add_parser("search")
    common(sp)
    sp.add_argument("query")
    sp.add_argument("--max-documents", type=int, default=10)
    sp.add_argument("--max-chunks", type=int, default=None)
    sp.add_argument("--rrf-k", type=int, default=60)
    sp.add_argument("--indexes", default="vector,bm25")
    sp.add_argument("--filter")
    sp.add_argument("--diversify-lambda", type=float, default=None,
                    help="MMR diversified ranking (None = off)")
    sp.add_argument("--snippets", action="store_true",
                    help="add each hit's best matching line")
    sp.add_argument("--expand", action="store_true",
                    help="relevance feedback: RM3 (BM25) + Rocchio (vector)")
    sp.add_argument("--fuzzy", action="store_true",
                    help="spell-correct the query against the collection "
                         "vocabulary before searching")
    sp.add_argument("--ranker", default="bm25", choices=["bm25", "ql"],
                    help="lexical scoring: Okapi BM25 (default) or "
                         "Dirichlet query likelihood")
    sp.add_argument("--offset", type=int, default=0,
                    help="skip the first N documents (pagination; deep "
                         "pages want a larger --max-chunks pool)")
    sp.set_defaults(func=cmd_search)

    sp = sub.add_parser("search-docs")
    common(sp)
    sp.add_argument("query")
    sp.add_argument("--max-documents", type=int, default=10)
    sp.add_argument("--filter")
    sp.add_argument("--title-weight", type=float, default=2.0,
                    help="BM25F weight of the title field (chunk 0)")
    sp.add_argument("--body-weight", type=float, default=1.0,
                    help="BM25F weight of the body field (chunks 1..N)")
    sp.set_defaults(func=cmd_search_docs)

    sp = sub.add_parser("suggest")
    common(sp)
    sp.add_argument("query")
    sp.add_argument("--max-edits", type=int, default=1)
    sp.set_defaults(func=cmd_suggest)

    sp = sub.add_parser("facets")
    common(sp)
    sp.add_argument("--fields", required=True,
                    help="comma-separated facet fields (document "
                         "columns or metadata keys)")
    sp.add_argument("--query", default="",
                    help="restrict to documents containing all terms")
    sp.add_argument("--filter", help="metadata filter mini-language")
    sp.set_defaults(func=cmd_facets)

    sp = sub.add_parser("fetch")
    common(sp)
    sp.add_argument("document_id")
    sp.add_argument("--start", type=int, default=1)
    sp.add_argument("--end", type=int, default=200)
    sp.set_defaults(func=cmd_fetch)

    sp = sub.add_parser("update-files")
    common(sp)
    sp.add_argument("--path", required=True)
    sp.set_defaults(func=cmd_update_files)

    # reference-parity generic update: source config comes from the
    # manifest recorded at create time (collection_update_cmd_adapter.py)
    sp = sub.add_parser("update")
    common(sp)
    sp.add_argument("--token", default=None)
    sp.set_defaults(func=cmd_update)

    sp = sub.add_parser("curate")
    common(sp)
    sp.add_argument("--output", default=None)
    sp.set_defaults(func=cmd_curate)

    sp = sub.add_parser("dedup")
    common(sp)
    sp.add_argument("--threshold", type=float, default=0.8)
    sp.add_argument("--num-hashes", type=int, default=16)
    sp.add_argument("--bands", type=int, default=4)
    sp.add_argument("--max-bucket", type=int, default=256)
    sp.add_argument("--apply", action="store_true")
    sp.add_argument("--output", default=None)
    sp.set_defaults(func=cmd_dedup)

    sp = sub.add_parser("url-dedup")
    common(sp)
    sp.add_argument("--apply", action="store_true")
    sp.add_argument("--output", default=None)
    sp.set_defaults(func=cmd_url_dedup)

    sp = sub.add_parser("topics")
    common(sp)
    sp.add_argument("--nlist", type=int, default=8)
    sp.add_argument("--terms-k", type=int, default=0)
    sp.set_defaults(func=cmd_topics)

    sp = sub.add_parser("domains")
    common(sp)
    sp.add_argument("--output", default=None)
    sp.set_defaults(func=cmd_domains)

    sp = sub.add_parser("span-dedup")
    common(sp)
    sp.add_argument("--span-tokens", type=int, default=20)
    sp.add_argument("--min-docs", type=int, default=2)
    sp.add_argument("--min-ratio", type=float, default=0.5,
                    help="dup_ratio at/above which a doc counts as flagged")
    sp.add_argument("--output", default=None)
    sp.set_defaults(func=cmd_span_dedup)

    sp = sub.add_parser("search-many")
    common(sp)
    sp.add_argument("queries", nargs="+")
    sp.add_argument("--max-documents", type=int, default=10)
    sp.add_argument("--max-chunks", type=int, default=None)
    sp.add_argument("--rrf-k", type=int, default=60)
    sp.add_argument("--indexes", default="vector,bm25")
    sp.add_argument("--filter")
    sp.add_argument("--diversify-lambda", type=float, default=None,
                    help="MMR diversified ranking (None = off)")
    sp.add_argument("--ranker", default="bm25", choices=["bm25", "ql"])
    sp.add_argument("--fuzzy", action="store_true")
    sp.set_defaults(func=cmd_search_many)

    sp = sub.add_parser("explain")
    common(sp)
    sp.add_argument("query")
    sp.add_argument("--max-documents", type=int, default=10)
    sp.add_argument("--indexes", default="vector,bm25")
    sp.add_argument("--filter")
    sp.set_defaults(func=cmd_explain)

    sp = sub.add_parser("compact")
    common(sp)
    sp.add_argument("--max-files", type=int, default=1,
                    help="compact buckets whose dirs exceed this file count")
    sp.set_defaults(func=cmd_compact)

    sp = sub.add_parser("anomaly")
    sp.add_argument("--input", required=True)
    sp.add_argument("--series-col", default="event_type")
    sp.add_argument("--ts-col", default="ts")
    sp.add_argument("--value-col", default="value")
    sp.add_argument("--window", type=int, default=7)
    sp.add_argument("--threshold", type=int, default=3)
    sp.add_argument("--all", action="store_true",
                    help="print every scored day, not only anomalies")
    sp.add_argument("--format", default="json",
                    choices=["json", "indent", "toon"])
    sp.set_defaults(func=cmd_anomaly)

    sp = sub.add_parser("zorder")
    sp.add_argument("--input", required=True,
                    help="parquet dataset to rewrite")
    sp.add_argument("--output", required=True)
    sp.add_argument("--col-a", required=True,
                    help="first integer clustering column")
    sp.add_argument("--col-b", required=True,
                    help="second integer clustering column")
    sp.add_argument("--num-files", type=int, default=64)
    sp.add_argument("--keep-key", action="store_true",
                    help="persist the _z Morton key column")
    sp.add_argument("--format",
                    choices=["json", "json_with_indent", "toon"],
                    default="json_with_indent")
    sp.set_defaults(func=cmd_zorder)

    sp = sub.add_parser("diff")
    sp.add_argument("--old", required=True, help="previous snapshot parquet")
    sp.add_argument("--new", required=True, help="current snapshot parquet")
    sp.add_argument("--key", required=True,
                    help="comma-separated key column(s)")
    sp.add_argument("--compare", default=None,
                    help="comma-separated columns to compare "
                         "(default: every non-key column of --old)")
    sp.add_argument("--output", default=None,
                    help="write the full changeset parquet here")
    sp.add_argument("--format", default="json",
                    choices=["json", "indent", "toon"])
    sp.set_defaults(func=cmd_diff)

    sp = sub.add_parser("scd2")
    sp.add_argument("--current", required=True,
                    help="open dimension parquet (one row per key)")
    sp.add_argument("--changes", required=True,
                    help="changes parquet (attrs + effective-ts column)")
    sp.add_argument("--key", required=True,
                    help="comma-separated key column(s)")
    sp.add_argument("--attrs", default=None,
                    help="comma-separated attribute columns "
                         "(default: every non-key, non-ts column of "
                         "--current)")
    sp.add_argument("--effective-ts-col", default="effective_ts")
    sp.add_argument("--output", required=True,
                    help="write the version-history parquet here")
    sp.add_argument("--format", default="json",
                    choices=["json", "indent", "toon"])
    sp.set_defaults(func=cmd_scd2)

    sp = sub.add_parser("pagerank")
    sp.add_argument("--edges", required=True,
                    help="edge parquet (src, dst[, weight])")
    sp.add_argument("--src-col", default="src")
    sp.add_argument("--dst-col", default="dst")
    sp.add_argument("--weight-col", default=None,
                    help="edge weight column (default: unweighted)")
    sp.add_argument("--seeds", default=None,
                    help="comma-separated seed nodes: personalized "
                         "PageRank (teleport + dangling mass to seeds)")
    sp.add_argument("--iterations", type=int, default=10)
    sp.add_argument("--damping-pct", type=int, default=85)
    sp.add_argument("--top", type=int, default=20)
    sp.add_argument("--output", default=None,
                    help="write the full rank table parquet here")
    sp.add_argument("--format", default="json",
                    choices=["json", "indent", "toon"])
    sp.set_defaults(func=cmd_pagerank)

    sp = sub.add_parser("refit-sq8")
    common(sp)
    sp.set_defaults(func=cmd_refit_sq8)

    sp = sub.add_parser("refit-ivf")
    common(sp)
    sp.set_defaults(func=cmd_refit_ivf)

    sp = sub.add_parser("refit-topics")
    common(sp)
    sp.set_defaults(func=cmd_refit_topics)

    sp = sub.add_parser("refit-fuzzy")
    common(sp)
    sp.set_defaults(func=cmd_refit_fuzzy)

    sp = sub.add_parser("complete")
    common(sp)
    sp.add_argument("prefix")
    sp.add_argument("--k", type=int, default=10)
    sp.set_defaults(func=cmd_complete)

    sp = sub.add_parser("evaluate")
    common(sp)
    sp.add_argument("--queries", required=True,
                    help='JSON file {"qid": "query text", ...}')
    sp.add_argument("--qrels", required=True,
                    help="parquet/csv with (qid, doc_id, rel)")
    sp.add_argument("--k", type=int, default=10)
    sp.add_argument("--indexes", default="vector,bm25",
                    help='retrieval branches; "bm25f" alone selects '
                         "the document-level field-weighted ranker")
    sp.add_argument("--ranker", default="bm25", choices=["bm25", "ql"])
    sp.set_defaults(func=cmd_evaluate)

    sp = sub.add_parser("similar")
    common(sp)
    sp.add_argument("document_id")
    sp.add_argument("--method", choices=["vector", "bm25"], default="vector")
    sp.add_argument("-k", type=int, default=10)
    sp.add_argument("--max-terms", type=int, default=10)
    sp.add_argument("--filter", default=None)
    sp.set_defaults(func=cmd_similar)

    sp = sub.add_parser("doctor")
    common(sp)
    sp.add_argument("--deep", action="store_true")
    sp.set_defaults(func=cmd_doctor)

    sp = sub.add_parser("profile")
    sp.add_argument("path", help="parquet path to profile")
    sp.add_argument("--exact", action="store_true",
                    help="exact distinct counts (default: HLL approx)")
    sp.add_argument("--format", default="json",
                    choices=["json", "indent", "toon"])
    sp.set_defaults(func=cmd_profile)

    sp = sub.add_parser("fk")
    sp.add_argument("child", help="child parquet path")
    sp.add_argument("parent", help="parent parquet path")
    sp.add_argument(
        "--key",
        action="append",
        required=True,
        help="FK column; childcol=parentcol when names differ"
        " (repeatable for composite keys)",
    )
    sp.add_argument("--sample", type=int, default=5)
    sp.add_argument(
        "--max-orphan-frac",
        type=float,
        default=0.0,
        help="exit 1 when orphan_frac exceeds this",
    )
    sp.add_argument("--format", default="json",
                    choices=["json", "indent", "toon"])
    sp.set_defaults(func=cmd_fk)

    sp = sub.add_parser("dau")
    sp.add_argument("path", help="events parquet path")
    sp.add_argument("--window-days", type=int, default=7)
    sp.add_argument("--user-col", default="user_id")
    sp.add_argument("--ts-col", default="ts")
    sp.add_argument(
        "--kmv",
        type=int,
        default=0,
        metavar="K",
        help="bounded-state KMV estimate with sketch size K instead"
        " of the exact DAU/WAU curve",
    )
    sp.add_argument("--format", default="json",
                    choices=["json", "indent", "toon"])
    sp.set_defaults(func=cmd_dau)

    sp = sub.add_parser("psi")
    sp.add_argument("path", help="events parquet path")
    sp.add_argument("--cut", required=True,
                    help="timestamp literal splitting side A (before)"
                    " from side B")
    sp.add_argument("--value-col", default="value")
    sp.add_argument("--ts-col", default="ts")
    sp.add_argument("--bins", type=int, default=20)
    sp.add_argument("--lo", type=float, default=0.0)
    sp.add_argument("--hi", type=float, default=600.0)
    sp.add_argument(
        "--max-psi",
        type=float,
        default=float("inf"),
        help="exit 1 when total PSI exceeds this (0.25 = classic"
        " drifted threshold)",
    )
    sp.add_argument("--format", default="json",
                    choices=["json", "indent", "toon"])
    sp.set_defaults(func=cmd_psi)

    sp = sub.add_parser("burst")
    sp.add_argument("path", help="events parquet path")
    sp.add_argument("--user-col", default="user_id")
    sp.add_argument("--ts-col", default="ts")
    sp.add_argument("--min-gaps", type=int, default=2)
    sp.add_argument("--top", type=int, default=10)
    sp.add_argument("--format", default="json",
                    choices=["json", "indent", "toon"])
    sp.set_defaults(func=cmd_burst)

    sp = sub.add_parser("decon-rate")
    sp.add_argument("train", help="training documents parquet path")
    sp.add_argument("bench", help="benchmark documents parquet path")
    sp.add_argument("-n", type=int, default=5, help="gram size")
    sp.add_argument("--min-hits", type=int, default=1)
    sp.add_argument("--suite-col", default="suite")
    sp.add_argument(
        "--max-rate",
        type=float,
        default=float("inf"),
        help="exit 1 when any suite's contamination rate exceeds this",
    )
    sp.add_argument("--format", default="json",
                    choices=["json", "indent", "toon"])
    sp.set_defaults(func=cmd_decon_rate)

    sp = sub.add_parser("unimax")
    sp.add_argument("path", help="documents parquet path")
    sp.add_argument("--budget-tokens", type=int, required=True)
    sp.add_argument("--max-epochs", type=int, default=2)
    sp.add_argument("--lang-col", default="lang")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--format", default="json",
                    choices=["json", "indent", "toon"])
    sp.set_defaults(func=cmd_unimax)

    sp = sub.add_parser("skew")
    common(sp)
    sp.add_argument("--table", default="documents")
    sp.add_argument("--key", default="id")
    sp.add_argument("--top", type=int, default=5)
    sp.set_defaults(func=cmd_skew)

    sp = sub.add_parser("stats")
    common(sp)
    sp.set_defaults(func=cmd_stats)

    sp = sub.add_parser("delete")
    common(sp)
    sp.add_argument("ids", nargs="+", help="document ids to remove")
    sp.set_defaults(func=cmd_delete)

    sp = sub.add_parser("export-shards")
    common(sp)
    sp.add_argument("--output", required=True)
    sp.add_argument("--n-shards", type=int, default=8)
    sp.add_argument("--seed", type=int, default=0)
    sp.add_argument("--max-records-per-file", type=int)
    sp.add_argument("--shard-format", choices=["parquet", "jsonl"],
                    default="parquet")
    sp.set_defaults(func=cmd_export_shards)

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.func(args)


if __name__ == "__main__":
    sys.exit(main())
