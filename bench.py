"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...} — and writes the same object (pretty,
durable) to bench_results.json ($SPARK_GRAFT_BENCH_OUT overrides), so a
truncated stdout capture can never lose the per-query numbers.

Each query executes end-to-end into a noop sink (full computation, no
driver-side row transfer skewing the measurement). Every headline query
runs once UNTIMED first (JVM JIT + whole-stage-codegen compilation +
parquet footer caches + one-time index-layout builds), then THREE timed
runs; the reported number is the MEDIAN and the max-min spread lands in
"spread" — cross-round comparisons were dominated by background
machine drift with single-shot timing (OPTIMIZATION_r12.md
"Measurement conditions": untouched keys moved 2-7x with no code
change), and the median of three interleaved runs bounds that noise
per query. The numbers are steady-state throughput, which is what
matters for a long-lived engine.
The collection build is timed cold, once (a build happens once per
corpus), and the update/delete steps mutate state so they also run
once.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from documents_vector_search_spark import registry
from documents_vector_search_spark.session import get_spark

HEADLINE = [
    "bm25_topk",
    "bm25_batch",
    "knn_cosine",
    "knn_l2",
    "knn_batch",
    "ann_lsh",
    "ann_batch",
    "ivf_ann",
    "pq_adc",
    "ivfpq_search",
    "rrf_hybrid",
    "chunk_split",
    "dedup_exact",
    "dedup_minhash",
    "cross_dedup",
    "dedup_cluster",
    "dedup_simhash",
    "simhash_pairs",
    "span_dedup",
    "kmv_distinct",
    "histogram",
    "hash_split",
    "quality_sample",
    "mix_sample",
    "shard_export",
    "domain_cap",
    "embedding_neardup",
    "cross_embed_dedup",
    "sq8_ann",
    "decontaminate",
    "pool_embeddings",
    "lang_id",
    "quality",
    "token_counts",
    "fingerprint",
    "repetition",
    "curation_sweep",
    "vocab_stats",
    "pack_sequences",
    "perplexity",
    "quality_classifier",
    "quality_classifier_text",
    "gopher_rules",
    "c4_rules",
    "url_dedup",
    "domain_profile",
    "temperature_sample",
    "hard_negatives",
    "cluster_split",
    "snippets",
    "facet_counts",
    "bm25_rm3",
    "dsir_select",
    "knn_rocchio",
    "corpus_drift",
    "tpch_q6",
    "tpch_q3",
    "phrase_search",
    "ql_dirichlet",
    "binary_ann",
    "spell_correct",
    "fuzzy_search",
    "suggest_prefix",
    "ir_metrics",
    "cube_agg",
    "tpch_q18",
    "tpch_q5",
    "heavy_hitters",
    "perplexity_bigram",
    "funnel",
    "retention",
    "trending_terms",
    "bm25f",
    "zorder_key",
    "late_interaction",
    "mmr_rerank",
    "topic_model",
    "topic_terms",
    "pii_redact",
    "line_dedup",
    "corpus_prep",
    "corpus_prep_gopher",
    "prep_to_shards",
    "asof_join",
    "interval_join",
    "tpch_q1",
    "revenue_join",
    "events_window",
    "sessionize",
    "multimodal",
    # round 9 additions
    "tpch_q7",
    "tpch_q10",
    "tpch_q13",
    "tpch_q14",
    "tpch_q15",
    "tpch_q19",
    "event_paths",
    "funnel_bucketed",
    "skew_report",
    "cms_counts",
    "tfidf_keywords",
    "field_postings",
    "item_cooc",
    "normalize_text",
    "rfm_segments",
    "funnel_latency",
    "tpch_q4",
    "tpch_q8",
    "tpch_q9",
    "tpch_q17",
    "tpch_q21",
    "tpch_q22",
    "ts_resample",
    "anomaly_zscore",
    "top_paths",
    "spend_gini",
    "boilerplate_strip",
    "collocations",
    "bucketed_join",
    "salted_join",
    "attribution",
    "ab_test",
    "tpch_q12",
    "snapshot_diff",
    "pagerank",
    # round 10 additions
    "scd2_apply",
    "mlt_vector",
    "tpch_q2",
    "tpch_q11",
    "tpch_q16",
    "tpch_q20",
    # round 11 additions
    "scd2_as_of",
    "funnel_windowed",
    "attribution_multitouch",
    "survival_curve",
    "association_rules",
    "cusum_changepoints",
    "table_profile",
    "fk_check",
    "personalized_pagerank",
    "graph_profile",
    "session_metrics",
    "soft_dedup",
    "active_users",
    "unimax_mix",
    "ngram_novelty",
    "corpus_jaccard",
    "contamination_rate",
    "psi_drift",
    "burstiness",
    "dau_kmv",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="dvss-bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = registry.queries()

    # Per-query error isolation: one regressed query must never zero out
    # the whole bench (round 3 lost all its numbers to a single raise).
    # Failures are recorded under "errors" and excluded from the total.
    errors: dict[str, str] = {}

    def _run(name: str) -> bool:
        try:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            return True
        except Exception as exc:  # noqa: BLE001 — harness must survive
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            return False

    # Per-query warm-then-time, INTERLEAVED: the warm run compiles this
    # query's whole-stage-codegen classes and fills footer caches, and
    # the timed run follows immediately — before other queries' plans
    # can evict them (the JVM codegen cache holds ~100 generated
    # classes; a warm-all-then-time-all loop over 40 queries re-JITs
    # expression-heavy plans in the timed pass and overstates them by
    # seconds). Steady-state per query is what a long-lived engine
    # serves.
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in HEADLINE:
        if not _run(name):
            continue
        samples = []
        for _ in range(3):
            t0 = time.time()
            if not _run(name):
                samples = []
                break
            samples.append(time.time() - t0)
        if samples:
            samples.sort()
            timings[name] = round(samples[len(samples) // 2], 3)
            spreads[name] = round(samples[-1] - samples[0], 3)

    import shutil
    import tempfile

    build_breakdown: dict[str, float] = {}
    base = tempfile.mkdtemp(prefix="dvss_bench_")
    try:
        _bench_collection(
            spark, sf_dir, base, timings, errors, spreads, build_breakdown
        )
    except Exception as exc:  # noqa: BLE001 — harness must survive
        errors["collection_build"] = f"{type(exc).__name__}: {exc}"[:500]
    finally:
        shutil.rmtree(base, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "timing": {"runs_per_query": 3, "stat": "median"},
        "spread": spreads,
        # per-layout build attribution (NOT summed into value — the
        # core/positional builds exist only to attribute regressions to
        # a flag; collection_build in `queries` remains the full build)
        "build_breakdown": build_breakdown,
        # the parallelism and memory the timings ran with: numbers from
        # runs on differently sized hosts only compare alongside these
        "run": {
            "defaultParallelism": spark.sparkContext.defaultParallelism,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark.driver.memory": spark.sparkContext.getConf().get(
                "spark.driver.memory", None
            ),
        },
    }
    if errors:
        out["errors"] = errors
    # Persist the full artifact alongside stdout: the r5 driver capture
    # truncated the stdout tail and lost ~28 per-query timings forever
    # (r5 VERDICT "What's missing" #3) — the committed file is the
    # durable record.
    results_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_results.json"),
    )
    with open(results_path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(out))
    spark.stop()


def _bench_collection(
    spark, sf_dir, base, timings, errors, spreads, build_breakdown
) -> None:
    """Indexed-search path: build a collection (timed per layout), then
    serve searches against the prebuilt index tables — the reference's
    actual serving shape (index build amortized across queries).
    Per-search failures are isolated; a build failure aborts only this
    section.

    Serving queries are timed warm + median-of-3, the same discipline
    as the registry queries: the r7 round read 1.3-1.4x "regressions"
    on indexed_search_bm25/filtered out of single-shot cold timings
    whose run-to-run spread exceeded the reported deltas
    (OPTIMIZATION_r12.md "Final bench": single-shot keys spread up to
    24 s across three runs on one host). indexed_search_hybrid keeps
    its deliberate cold single-shot role (first-touch cost incl. cache
    materialization); everything after it reports steady state."""
    from pyspark.sql import functions as F

    from documents_vector_search_spark.collection import (
        Collection,
        CollectionSearcher,
        create_collection,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("id"),
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.create_map(
            F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
        ).alias("metadata"),
        F.col("text"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("last_modified_at"),
        F.lit("bench").alias("source_type"),
    )
    # per-layout build attribution: core (flat+postings), +positional,
    # +fuzzy (the full build, which then serves the searches below).
    # Raw times, each a fresh collection — the flag cost is the delta
    # between adjacent keys (single-shot; read them against machine
    # noise; OPTIMIZATION_r12.md "Final bench" records the spread).
    t0 = time.time()
    create_collection(
        Collection(spark, base, "bench_core"), docs,
        chunk_size=500, chunk_overlap=50,
    )
    build_breakdown["collection_build_core"] = round(time.time() - t0, 3)
    t0 = time.time()
    create_collection(
        Collection(spark, base, "bench_pos"), docs,
        chunk_size=500, chunk_overlap=50, positional_postings=True,
    )
    build_breakdown["collection_build_positional"] = round(time.time() - t0, 3)

    coll = Collection(spark, base, "bench")
    t0 = time.time()
    # positional postings + fuzzy dictionary: the build measures the
    # full index family (phrase and suggest serving paths bench below)
    create_collection(
        coll, docs, chunk_size=500, chunk_overlap=50,
        positional_postings=True, fuzzy_dictionary=True,
    )
    timings["collection_build"] = round(time.time() - t0, 3)
    build_breakdown["collection_build_fuzzy"] = timings["collection_build"]

    # r13: CollectionSearcher(cache_tables=True) now warms every table
    # cache CONCURRENTLY at construction (the serving-startup pattern),
    # so the cost the old cold indexed_search_hybrid key carried
    # (lazy serial cache materialization inside the first search) moved
    # into construction. Time construction as its OWN key so the bench
    # still accounts for every second — indexed_search_hybrid now
    # measures first-query latency against warmed caches, which is what
    # a deployment's first user sees after startup.
    t0 = time.time()
    searcher = CollectionSearcher(coll, cache_tables=True)
    timings["searcher_init"] = round(time.time() - t0, 3)

    def _serve(qname, fn, warm_and_median=True):
        """Time a serving call: one untimed warm run, then median of 3
        (same discipline as the registry queries). Cold single-shots
        (warm_and_median=False) time the one run only."""
        try:
            if warm_and_median:
                fn()
                samples = []
                for _ in range(3):
                    t0 = time.time()
                    fn()
                    samples.append(time.time() - t0)
                samples.sort()
                timings[qname] = round(samples[len(samples) // 2], 3)
                spreads[qname] = round(samples[-1] - samples[0], 3)
            else:
                t0 = time.time()
                fn()
                timings[qname] = round(time.time() - t0, 3)
        except Exception as exc:  # noqa: BLE001 — harness must survive
            errors[qname] = f"{type(exc).__name__}: {exc}"[:500]

    def _search(**kwargs):
        return lambda: searcher.search(
            "hash join vector scan", max_chunks=15, **kwargs
        ).write.format("noop").mode("overwrite").save()

    # first-touch cost (plan compile + table-cache materialization) is
    # itself a serving number a deployment cares about — keep it cold
    _serve("indexed_search_hybrid", _search(), warm_and_median=False)
    _serve("indexed_search_hybrid_warm", _search())
    _serve("indexed_search_bm25", _search(indexes=("bm25",)))
    _serve("indexed_search_vector", _search(indexes=("vector",)))
    _serve("indexed_search_filtered", _search(metadata_filter='lang = "en"'))
    _serve("indexed_search_diverse", _search(diversify_lambda=0.5))
    _serve("indexed_search_expand", _search(expand_query=True))
    _serve("indexed_search_snippets", _search(include_snippets=True))
    _serve("indexed_search_ql", _search(indexes=("bm25",), ranker="ql"))
    _serve("indexed_search_fuzzy", _search(fuzzy=True))

    # exact phrase over the positional postings (a phrase that MATCHES
    # at this sf, so the intersect-fold work is measured, not just the
    # empty probe)
    _serve(
        "indexed_search_phrase",
        lambda: searcher.search(
            "hash join", max_chunks=15, indexes=("phrase",)
        ).write.format("noop").mode("overwrite").save(),
    )

    # suggest: SymSpell probe of the materialized deletion index
    _serve(
        "indexed_suggest",
        lambda: searcher.suggest("hashh joinn vectr")
        .write.format("noop").mode("overwrite").save(),
    )

    # document-level BM25F (title = chunk 0) — single and 4-query
    # batch off one pruned scan
    _serve(
        "indexed_search_docs_bm25f",
        lambda: searcher.search_documents_bm25f("hash join", k=10)
        .write.format("noop").mode("overwrite").save(),
    )
    _serve(
        "indexed_search_docs_bm25f_batch4",
        lambda: searcher.search_documents_bm25f_many(
            ["hash join", "sort merge", "table window", "key value"], k=10
        ).write.format("noop").mode("overwrite").save(),
    )

    # batch serving: 4 queries in ONE job (search_many) — compare with
    # 4× the warm single-query number to see the scan amortization
    _serve(
        "indexed_search_batch4",
        lambda: searcher.search_many(
            {
                "q0": "hash join vector scan",
                "q1": "sort merge",
                "q2": "table window",
                "q3": "key value batch",
            },
            max_chunks=15,
        ).write.format("noop").mode("overwrite").save(),
    )

    # batched DIVERSE serving: 4 MMR-diversified queries off ONE
    # union-probe retrieval + per-qid Arrow-batched greedy — compare
    # with 4× indexed_search_diverse for the amortization
    _serve(
        "indexed_search_diverse_batch4",
        lambda: searcher.search_many(
            {
                "q0": "hash join vector scan",
                "q1": "sort merge",
                "q2": "table window",
                "q3": "key value batch",
            },
            max_chunks=15,
            diversify_lambda=0.5,
        ).write.format("noop").mode("overwrite").save(),
    )

    # incremental update of a ~0.1% batch: the operation a production
    # deployment runs continuously. Every table buckets by owning-doc
    # id, so an N-doc batch rewrites ≤N update buckets per table — at
    # production bucket counts (1024+) that is O(batch); here the
    # number mostly measures the fixed per-batch cost (chunk + embed +
    # merge + swap of a handful of buckets). The partition-pruning
    # contract itself is pinned by the file-inventory test in
    # tests/test_collection.py.
    try:
        from documents_vector_search_spark.collection import (
            update_collection,
        )

        batch = docs.filter(F.crc32(F.col("id")) % 1000 == 0).withColumn(
            "text", F.concat(F.lit("UPDATED "), F.col("text"))
        )
        t0 = time.time()
        update_collection(coll, batch)
        timings["collection_update"] = round(time.time() - t0, 3)
    except Exception as exc:  # noqa: BLE001 — harness must survive
        errors["collection_update"] = f"{type(exc).__name__}: {exc}"[:500]

    # deletion of a ~0.1% id set — the right-to-be-forgotten operation;
    # same O(affected buckets) machinery as the update
    try:
        from documents_vector_search_spark.collection import (
            delete_documents,
        )

        victim_ids = [
            r.id
            for r in docs.filter(F.crc32(F.col("id")) % 1000 == 1)
            .select("id")
            .collect()
        ]
        t0 = time.time()
        delete_documents(coll, victim_ids)
        timings["collection_delete"] = round(time.time() - t0, 3)
    except Exception as exc:  # noqa: BLE001 — harness must survive
        errors["collection_delete"] = f"{type(exc).__name__}: {exc}"[:500]


if __name__ == "__main__":
    main()
