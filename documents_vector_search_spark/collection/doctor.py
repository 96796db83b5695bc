"""Collection integrity checks — the `dvss doctor` maintenance scan.

A long-lived deployment accumulates risk the reference never had to
manage (it rebuilds its indexes from scratch): crash-recovered swaps,
incrementally-maintained manifest statistics, a delta log, derived
tables that must stay in step with chunks and documents (embeddings 1:1
with chunks; postings rows join a live chunk, field_postings rows a
live document). This module validates all of it against the stored
truth and reports every divergence — run it after an incident, before
trusting a restored backup, or on a schedule.

Fast checks (default) read footers, directory names, and run count
aggregations. ``deep=True`` adds the referential scans (derived-table
rows must join back to a live chunk) — O(table), the price of a real
audit.

Every check either passes or appends a structured issue; the scan
NEVER raises on a broken collection (a doctor that crashes on the
patient is useless) — unreadable tables become issues too.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from documents_vector_search_spark.collection.catalog import TABLES, Collection


def _issue(issues: list, code: str, detail: str) -> None:
    issues.append({"code": code, "detail": detail})


def doctor_report(collection: Collection, deep: bool = False) -> dict:
    """Validate a collection; returns ``{"ok": bool, "checks": int,
    "issues": [{"code", "detail"}, ...]}``."""
    issues: list[dict] = []
    checks = 0

    # -- manifest loads, in the current format -----------------------------
    checks += 1
    try:
        manifest = collection.manifest()
    except Exception as exc:  # noqa: BLE001 — report, don't crash
        _issue(issues, "manifest_unreadable", f"{type(exc).__name__}: {exc}")
        return {"ok": False, "checks": checks, "issues": issues}
    checks += 1
    try:
        collection.checked_manifest()
    except ValueError as exc:
        _issue(issues, "outdated_format", str(exc))
        return {"ok": False, "checks": checks, "issues": issues}

    # -- staging leftovers -------------------------------------------------
    checks += 1
    for p in sorted(collection.root.glob("*__tmp")) + sorted(
        collection.root.glob("*__old")
    ):
        _issue(
            issues,
            "staging_leftover",
            f"{p.name} present — an interrupted swap; reads self-heal, "
            "but run an update/compact (or remove after inspection)",
        )

    # -- table presence + counts -------------------------------------------
    counts: dict[str, int] = {}
    for table in TABLES:
        checks += 1
        if not (collection.root / table).exists():
            _issue(issues, "table_missing", table)
            continue
        try:
            counts[table] = collection.read(table).count()
        except Exception as exc:  # noqa: BLE001
            _issue(
                issues, "table_unreadable",
                f"{table}: {type(exc).__name__}: {exc}",
            )

    # -- manifest counts vs stored truth ------------------------------------
    if "documents" in counts:
        checks += 1
        if counts["documents"] != manifest.numberOfDocuments:
            _issue(
                issues, "doc_count_drift",
                f"manifest numberOfDocuments={manifest.numberOfDocuments} "
                f"vs stored {counts['documents']}",
            )
    if "chunks" in counts:
        checks += 1
        if counts["chunks"] != manifest.numberOfChunks:
            _issue(
                issues, "chunk_count_drift",
                f"manifest numberOfChunks={manifest.numberOfChunks} "
                f"vs stored {counts['chunks']}",
            )

    # -- embeddings must be 1:1 with chunks ----------------------------------
    if "embeddings" in counts and "chunks" in counts:
        checks += 1
        if counts["embeddings"] != counts["chunks"]:
            _issue(
                issues, "derived_count_mismatch",
                f"embeddings has {counts['embeddings']} rows vs "
                f"{counts['chunks']} chunks (must be 1 per chunk)",
            )

    # -- avgChunkLength recompute -------------------------------------------
    if "chunks" in counts:
        checks += 1
        try:
            from documents_vector_search_spark.collection.creator import (
                chunk_stats,
            )

            row = chunk_stats(collection.read("chunks"))
            stored = float(row["avgdl"]) if row["avgdl"] is not None else None
            if stored is not None and abs(
                stored - float(manifest.avgChunkLength or 0.0)
            ) > 1e-6:
                _issue(
                    issues, "avgdl_drift",
                    f"manifest avgChunkLength={manifest.avgChunkLength} vs "
                    f"recomputed {stored} — BM25 scores are skewed; "
                    "update/delete convergence failed somewhere",
                )
        except Exception as exc:  # noqa: BLE001
            _issue(issues, "avgdl_uncheckable", f"{type(exc).__name__}: {exc}")

    # -- fieldStats vs field_postings ----------------------------------------
    if "field_postings" in counts:
        checks += 1
        try:
            from documents_vector_search_spark.collection.updater import (
                _field_stats_from_table,
            )

            exact = _field_stats_from_table(collection)
            if manifest.fieldStats != exact:
                _issue(
                    issues, "field_stats_drift",
                    f"manifest fieldStats={manifest.fieldStats} vs "
                    f"recomputed {exact} — BM25F avgfl is skewed",
                )
        except Exception as exc:  # noqa: BLE001
            _issue(
                issues, "field_stats_uncheckable",
                f"{type(exc).__name__}: {exc}",
            )

    # -- embedding dim vs manifest record -------------------------------------
    emb_cfg = manifest.converter["embedding"]
    if counts.get("embeddings"):
        checks += 1
        try:
            row = collection.read("embeddings").select(
                F.size("vector").alias("d")
            ).first()
            if row and int(row["d"]) != int(emb_cfg["dim"]):
                _issue(
                    issues, "embedding_dim_mismatch",
                    f"manifest dim={emb_cfg['dim']} vs stored vectors "
                    f"of size {row['d']}",
                )
        except Exception as exc:  # noqa: BLE001
            _issue(issues, "dim_uncheckable", f"{type(exc).__name__}: {exc}")

    # -- fuzzy delta-log hygiene ----------------------------------------------
    if (collection.root / "vocab").exists():
        checks += 1
        try:
            from documents_vector_search_spark.collection.fuzzy_artifacts import (
                DELETION_INDEX_DELTAS_TABLE,
                VOCAB_DELTAS_TABLE,
                _batch_dirs,
            )

            vocab_batches = {
                b for b, _ in _batch_dirs(collection, VOCAB_DELTAS_TABLE)
            }
            didx_batches = {
                b
                for b, _ in _batch_dirs(
                    collection, DELETION_INDEX_DELTAS_TABLE
                )
            }
            orphans = sorted(didx_batches - vocab_batches)
            if orphans:
                _issue(
                    issues, "fuzzy_orphan_batches",
                    f"deletion-index batches {orphans} have no vocab twin "
                    "(crash between publish renames) — invisible to "
                    "readers; the next append or compaction GCs them",
                )
        except Exception as exc:  # noqa: BLE001
            _issue(
                issues, "fuzzy_uncheckable", f"{type(exc).__name__}: {exc}"
            )

    # -- deep referential checks ----------------------------------------------
    if deep and "chunks" in counts:
        chunk_ids = collection.read("chunks").select("chunk_id")
        for derived in ("embeddings", "postings"):
            if derived not in counts:
                continue
            checks += 1
            try:
                orphan_rows = (
                    collection.read(derived)
                    .join(chunk_ids, "chunk_id", "left_anti")
                    .count()
                )
                if orphan_rows:
                    _issue(
                        issues, "orphan_derived_rows",
                        f"{derived}: {orphan_rows} rows reference no "
                        "live chunk (a delete missed them)",
                    )
            except Exception as exc:  # noqa: BLE001
                _issue(
                    issues, "deep_uncheckable",
                    f"{derived}: {type(exc).__name__}: {exc}",
                )
        if "field_postings" in counts:
            checks += 1
            try:
                doc_ids = collection.read("documents").select(
                    F.col("id").alias("document_id")
                )
                orphan_rows = (
                    collection.read("field_postings")
                    .join(doc_ids, "document_id", "left_anti")
                    .count()
                )
                if orphan_rows:
                    _issue(
                        issues, "orphan_field_postings",
                        f"{orphan_rows} field_postings rows reference no "
                        "live document",
                    )
            except Exception as exc:  # noqa: BLE001
                _issue(
                    issues, "deep_uncheckable",
                    f"field_postings: {type(exc).__name__}: {exc}",
                )

    return {"ok": not issues, "checks": checks, "issues": issues}
