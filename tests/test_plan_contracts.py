"""Plan-shape regression tests: pin the physical-plan properties the
engine's 100 TB scale claims rest on (ARCHITECTURE.md).
These catch silent optimizer regressions that correctness hashes
cannot see — a full scan still returns the right top-10."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestPlanContracts:
    def test_ann_lsh_is_partition_pruned(self, spark):
        """The ANN probe must be Parquet partition pruning, never a
        full scan + filter (VERDICT r1 'weak' #1, fixed in r2)."""
        from documents_vector_search_spark import registry

        plan = _plan(registry.q_ann_lsh(spark, SF))
        assert "PartitionFilters" in plan and "bucket" in plan

    def test_exact_knn_is_take_ordered(self, spark):
        from documents_vector_search_spark import registry

        plan = _plan(registry.q_knn_l2(spark, SF))
        assert "TakeOrderedAndProject" in plan  # heap top-k, no global sort

    def test_knn_filter_pushed_to_scan(self, spark):
        from documents_vector_search_spark import registry

        plan = _plan(registry.q_knn_l2_filtered(spark, SF))
        assert "PushedFilters: [" in plan and "label" in plan

    def test_tpch_q1_partial_aggregation(self, spark):
        from documents_vector_search_spark import registry

        plan = _plan(registry.q_tpch_q1(spark, SF))
        assert "partial_sum" in plan  # map-side combine before the shuffle

    def test_revenue_join_all_broadcast(self, spark):
        """The star join must broadcast dims — zero sort-merge joins."""
        from documents_vector_search_spark import registry

        plan = _plan(registry.q_revenue_join(spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_map_only_sweeps_have_no_exchange(self, spark):
        """Curation sweeps must stay single-scan (zero shuffles)."""
        from documents_vector_search_spark import registry

        for q in ("q_lang_id", "q_quality", "q_token_counts",
                  "q_fingerprint", "q_repetition", "q_curation_sweep",
                  "q_pii_redact", "q_dedup_simhash", "q_minhash_sig",
                  "q_embed_hash"):
            plan = _plan(getattr(registry, q)(spark, SF))
            assert "Exchange" not in plan, f"{q} gained a shuffle"

    def test_quality_sample_filter_is_map_only(self, spark):
        """The weighted sampling gate is a scan-side filter — no
        Exchange before the (tiny) per-lang aggregation's shuffle, and
        no Generate/UDF on the path."""
        from documents_vector_search_spark import registry

        plan = _plan(registry.q_quality_sample(spark, SF))
        # exactly the one aggregation exchange, nothing upstream
        assert plan.count("Exchange") == 1
        assert "BatchEvalPython" not in plan and "Generate" not in plan

    def test_sq8_scan_for_shortlist_reads_no_vectors(self, spark):
        """The SQ8 decoded-distance ranking must run on codes derived
        in-plan; the final plan's joins stay broadcast (shortlist side
        is ≤ shortlist ids) — no sort-merge join anywhere."""
        from documents_vector_search_spark import registry

        plan = _plan(registry.q_sq8_ann(spark, SF))
        assert "TakeOrderedAndProject" in plan
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_decontaminate_benchmark_is_broadcast(self, spark):
        """The benchmark gram set broadcasts; the training side's only
        wide op is the doc-id aggregation."""
        from documents_vector_search_spark import registry

        plan = _plan(registry.q_decontaminate(spark, SF))
        assert "BroadcastHashJoin" in plan

    def test_pool_embeddings_single_aggregation(self, spark):
        """Per-dim component averages share one partial+final agg —
        no explode of (rows × dim)."""
        from documents_vector_search_spark import registry

        plan = _plan(registry.q_pool_embeddings(spark, SF))
        assert plan.count("Exchange") == 1
        assert "Generate" not in plan
        assert "partial_avg" in plan or "partial" in plan

    def test_no_inferred_generate_filters_on_tokenize(self, spark):
        """The InferFiltersFromGenerate blowup must stay fixed: no
        size(...tokenize-tree...) pre-filter above the postings
        explode (OPTIMIZATION_r12.md §7)."""
        from documents_vector_search_spark import registry

        plan = _plan(registry.q_postings_build(spark, SF))
        assert "Generate explode" in plan or "Generate posexplode" in plan
        # the regression signature: a Filter evaluating size(split(...))
        assert "size(filter(split" not in plan

    def test_mix_sample_rates_broadcast_onto_corpus(self, spark):
        """mix_to_target: the per-group rate frame (|groups| rows) must
        re-enter the corpus as a broadcast — the corpus side never
        shuffles for the gate; the only wide ops are the tiny group
        aggregations."""
        from documents_vector_search_spark import registry

        plan = _plan(registry.q_mix_sample(spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_domain_cap_is_two_phase_salted(self, spark):
        """cap_per_group: the salted stage must be present AND every
        rank must run as a partial/final WindowGroupLimit (map-side
        top-k caps each task's contribution BEFORE the shuffle), so no
        single task ever sorts a whole mega-domain."""
        from documents_vector_search_spark import registry

        plan = _plan(registry.q_domain_cap(spark, SF))
        assert "_salt" in plan
        assert plan.count("WindowGroupLimit") == 4  # (partial+final) × 2

    def test_assign_shards_is_map_only(self, spark):
        """Shard/position assignment must add zero shuffles; the only
        Exchange in the shard_export stats query is its aggregation."""
        from documents_vector_search_spark.operators.export import (
            assign_shards,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = _plan(assign_shards(docs, "doc_id", 8))
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan

    def test_neardup_gate_probe_is_semi_join(self, spark, tmp_path):
        """The store probe must be a semi join on the band key and the
        admission an anti join — no full materialization of store×batch."""
        from documents_vector_search_spark.streaming import NearDupGate

        gate = NearDupGate(str(tmp_path / "bands"))
        docs = spark.createDataFrame(
            [(1, "one document worth of text to band")], ["id", "text"]
        )
        gate.admit(docs)  # seeds the store
        batch = spark.createDataFrame(
            [(2, "a second arriving document with text")], ["id", "text"]
        )
        bands = gate._band_rows(batch)
        store = spark.read.parquet(gate.store_path)
        probe = bands.join(store, ["band_index", "band_value"], "left_semi")
        plan = _plan(probe)
        assert "LeftSemi" in plan

    def test_interval_join_is_hash_join_not_nested_loop(self, spark):
        """The binned range join must plan as a hash join on the bin —
        the raw BETWEEN-only join would be a BroadcastNestedLoopJoin
        comparing every (event, interval) combination."""
        from documents_vector_search_spark import registry

        plan = _plan(registry.q_interval_join(spark, SF))
        assert "NestedLoop" not in plan
        assert "HashJoin" in plan

    def test_new_curation_scans_are_column_pruned(self, spark):
        """Column pruning must reach the parquet scan: a query that
        uses two columns must not read five. Pins ReadSchema for the
        r7 curation/url keys (a regression here silently multiplies
        scan bytes at 100 TB)."""
        import re

        from documents_vector_search_spark import registry

        expected = {
            # derivation uses only id + text
            "c4_rules": {"doc_id", "text"},
            # synthetic url needs id + source + lang; never text/n_chars
            "url_dedup": {"doc_id", "lang", "source"},
            # profile additionally scores text and aggregates n_chars
            "domain_profile": {"doc_id", "text", "lang", "source", "n_chars"},
        }
        qs = registry.queries()
        for name, cols in expected.items():
            plan = _plan(qs[name](spark, SF))
            schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
            assert schemas, f"{name}: no parquet scan found"
            got = {
                f.split(":")[0] for s in schemas for f in s.split(",") if f
            }
            assert got == cols, f"{name}: scan reads {sorted(got)}"


class TestRound7PlanContracts:
    """Plan pins for the expansion/selection/presentation additions."""

    def test_tpch_q6_pushes_every_predicate_no_exchange_but_agg(self, spark):
        """Q6 is a pure scan-aggregate: date/discount/quantity filters
        reach the parquet scan and the only exchange is the single-row
        final aggregation."""
        from documents_vector_search_spark import registry

        plan = _plan(registry.q_tpch_q6(spark, SF))
        assert "PushedFilters: [" in plan
        for col in ("l_shipdate", "l_discount", "l_quantity"):
            assert col in plan.split("PushedFilters")[1].split("]")[0], col
        assert "partial_sum" in plan
        assert plan.count("Exchange") == 1  # only the 1-row final agg

    def test_facet_counts_is_single_aggregation(self, spark):
        """N facet columns must not become N jobs: one generate +
        ONE hash aggregation exchange."""
        from documents_vector_search_spark import registry

        plan = _plan(registry.q_facet_counts(spark, SF))
        assert plan.count("Exchange") == 1
        assert "CartesianProduct" not in plan

    def test_weighted_bm25_prunes_term_buckets(self, spark, tmp_path):
        """bm25_weighted_topk against a bucket-partitioned postings
        table must prune partitions by the weighted terms' buckets."""
        from documents_vector_search_spark.operators.bm25 import (
            bm25_weighted_topk,
            build_postings,
            term_bucket,
        )

        docs = spark.createDataFrame(
            [(i, f"hash join topic{i}") for i in range(20)],
            ["doc_id", "text"],
        )
        postings = build_postings(docs, with_dl=True).withColumn(
            "term_bucket", term_bucket(F.col("term"))
        )
        path = str(tmp_path / "postings")
        postings.write.partitionBy("term_bucket").parquet(path)
        stored = spark.read.parquet(path)
        plan = _plan(
            bm25_weighted_topk(
                [("hash", 0.6), ("join", 0.4)], 5, stored, id_col="doc_id",
                corpus_stats=(20, 3.0),
            )
        )
        assert "PartitionFilters" in plan and "term_bucket" in plan
        assert "TakeOrderedAndProject" in plan

    def test_dsir_select_is_map_only_take_ordered(self, spark):
        """DSIR selection: literal ratio table + map-only fold + ONE
        TakeOrdered — no shuffle besides the top-k reduction."""
        from documents_vector_search_spark.operators.dsir import (
            dsir_select,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = _plan(dsir_select(docs, [0.0] * 256, 10))
        assert "TakeOrderedAndProject" in plan
        assert "Exchange" not in plan

    def test_snippet_filter_pushes_below_line_derivation(self, spark):
        """The registry snippets query filters by collected hit ids;
        the isin predicate must reach the parquet scan rather than
        evaluate above the token-line derivation."""
        from documents_vector_search_spark import registry

        plan = _plan(registry.q_snippets(spark, SF))
        assert "PushedFilters: [" in plan and "doc_id" in (
            plan.split("PushedFilters")[1].split("]")[0]
        )

    def test_bm25f_serving_pushes_term_filter(self, spark, tmp_path):
        """The document-level field_postings table is one term-sorted
        file per update bucket (only ``_pb=*`` directories), and
        search_documents_bm25f's plan pushes the query terms' `term IN`
        filter into its scan (the same contract as BM25's postings
        scan) and ends in a TakeOrdered, not a global sort."""
        from pyspark.sql import functions as F

        from documents_vector_search_spark.collection import (
            Collection,
            CollectionSearcher,
            create_collection,
        )

        docs = spark.createDataFrame(
            [
                (f"d{i}", f"doc://{i}", {"k": "v"},
                 f"title {i}\n\nspark join body {i}",
                 "2024-03-01 00:00:00", "s")
                for i in range(6)
            ],
            "id string, url string, metadata map<string,string>, "
            "text string, last_modified_at string, source_type string",
        ).withColumn(
            "last_modified_at", F.col("last_modified_at").cast("timestamp")
        )
        coll = Collection(spark, str(tmp_path), "fpplan")
        create_collection(coll, docs, title_from_text=True)
        fp_root = coll.root / "field_postings"
        assert {p.name.split("=")[0] for p in fp_root.iterdir() if p.is_dir()} == {
            "_pb"
        }
        df = CollectionSearcher(coll).search_documents_bm25f("spark join")
        plan = _plan(df)
        pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        assert "In(term" in pushed, pushed
        assert "TakeOrderedAndProject" in plan

    def test_tpch_q4_exists_is_semi_join_never_blowup(self, spark):
        """Q4's EXISTS must compile to a LEFT SEMI join (one probe per
        order, no multi-line row blowup before the aggregate), with
        the quarter filter pushed into the orders scan."""
        from documents_vector_search_spark import registry

        plan = _plan(registry.q_tpch_q4(spark, SF))
        assert "LeftSemi" in plan
        assert "PushedFilters" in plan and "o_orderdate" in plan
        assert "CartesianProduct" not in plan

    def test_tpch_q8_dims_broadcast(self, spark):
        """Q8's seven-table star: part/supplier/nation×2/region all
        broadcast; the only sort-merge candidates are the two fact
        shuffles (orders⋈lineitem, customer⋈that)."""
        from documents_vector_search_spark import registry

        plan = _plan(registry.q_tpch_q8(spark, SF))
        assert plan.count("BroadcastHashJoin") >= 4
        assert plan.count("SortMergeJoin") <= 2
        assert "CartesianProduct" not in plan

    def test_tpch_q9_single_fact_shuffle(self, spark):
        """Q9: the name-filtered part is a key-only broadcast, supplier
        and nation broadcast, so the only possible sort-merge join is
        orders⋈lineitem."""
        from documents_vector_search_spark import registry

        plan = _plan(registry.q_tpch_q9(spark, SF))
        assert plan.count("BroadcastHashJoin") >= 3
        assert plan.count("SortMergeJoin") <= 1

    def test_tpch_q17_one_scan_one_window(self, spark):
        """Q17's correlated per-part average must be a WINDOW over the
        brand-filtered lines — one lineitem scan, one partkey exchange
        — not the classic scan-twice self-join."""
        from documents_vector_search_spark import registry

        plan = _plan(registry.q_tpch_q17(spark, SF))
        assert "Window" in plan
        assert plan.count("hashpartitioning(l_partkey") == 1
        assert "SortMergeJoin" not in plan  # brand dim broadcasts

    def test_tpch_q21_no_self_join(self, spark):
        """Q21's EXISTS + NOT-EXISTS must be ONE orderkey aggregate
        (sole-late extraction via count-distinct + max), never a
        lineitem self-join; supplier/nation decorate via broadcast."""
        from documents_vector_search_spark import registry

        plan = _plan(registry.q_tpch_q21(spark, SF))
        # lineitem appears once as a scan (plus orders) — a self-join
        # would scan it at least twice
        assert plan.count("lineitem.parquet") <= 1 or plan.count(
            "Scan parquet"
        ) <= 2
        assert plan.count("BroadcastHashJoin") >= 2
        assert "CartesianProduct" not in plan

    def test_tpch_q22_anti_join_and_one_row_stats(self, spark):
        """Q22: the scalar average is a one-row broadcast (nested-loop
        over exactly one build row), and NOT EXISTS is a LEFT ANTI
        join against orders."""
        from documents_vector_search_spark import registry

        plan = _plan(registry.q_tpch_q22(spark, SF))
        assert "LeftAnti" in plan
        assert "CartesianProduct" not in plan


def _jobs_during(spark, fn) -> int:
    """Spark jobs submitted while ``fn()`` runs: the job-id range
    between two marker jobs. A job-group filter would miss the jobs the
    merge submits from its thread pools, which inherit no job group."""
    import uuid

    sc = spark.sparkContext

    def marker() -> int:
        tag = f"marker-{uuid.uuid4().hex}"
        sc.setJobGroup(tag, tag)
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        (job_id,) = sc.statusTracker().getJobIdsForGroup(tag)
        return job_id

    first = marker()
    fn()
    return marker() - first - 1


# measured Spark jobs of this update and delete on the 8-document
# collection with fuzzy artifacts; a change that adds jobs to the write
# path has to raise these on purpose, and one that removes jobs lowers
# them
UPDATE_JOB_BUDGET = 51
DELETE_JOB_BUDGET = 50


class TestWriteJobBudget:
    def test_update_and_delete_stay_within_job_budget(
        self, spark, canonical_docs, small_fuzzy_coll, tmp_path
    ):
        """One update (a grown document and a new one) and one delete
        (two documents) each submit at most their budgeted jobs."""
        import shutil

        from documents_vector_search_spark.collection import (
            Collection,
            delete_documents,
            update_collection,
        )

        shutil.copytree(small_fuzzy_coll.root, tmp_path / "budget")
        coll = Collection(spark, str(tmp_path), "budget")
        ids = sorted(
            r["id"] for r in coll.read("documents").select("id").collect()
        )
        changed = canonical_docs.filter(F.col("id") == ids[0]).withColumn(
            "text", F.concat(F.col("text"), F.lit(" revised section." * 12))
        )
        batch = changed.unionByName(
            changed.withColumn("id", F.lit("doc-brand-new"))
        )

        jobs = _jobs_during(spark, lambda: update_collection(coll, batch))
        assert jobs <= UPDATE_JOB_BUDGET, f"update ran {jobs} jobs"
        jobs = _jobs_during(spark, lambda: delete_documents(coll, ids[1:3]))
        assert jobs <= DELETE_JOB_BUDGET, f"delete ran {jobs} jobs"


# measured Spark jobs of one default hybrid search().collect() on a
# cached searcher: the fused chunk ranking (3), the hit chunks' lookup
# (1) and the page's documents lookup (1)
SEARCH_JOB_BUDGET = 5


class TestSearchJobBudget:
    def test_hybrid_search_is_ranking_plus_point_lookups(
        self, spark, small_fuzzy_coll, tmp_path
    ):
        """A default hybrid search on a cached searcher runs at most
        SEARCH_JOB_BUDGET jobs, and the frame it returns is only the
        documents lookup: no range-partitioned sort, no broadcast, and
        ``_pb IN`` plus ``id IN`` filters on the documents scan."""
        import re
        import shutil

        from documents_vector_search_spark.collection import (
            Collection,
            CollectionSearcher,
        )

        shutil.copytree(small_fuzzy_coll.root, tmp_path / "search")
        coll = Collection(spark, str(tmp_path), "search")
        # uncached first (a cached table stands in for the file scan):
        # the filters prune directories and push into Parquet
        plan = _plan(CollectionSearcher(coll).search("hash join"))
        pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        assert "_pb" in pf, plan
        pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        assert "In(id" in pushed, plan

        s = CollectionSearcher(coll, cache_tables=True)
        out = {}

        def search():
            out["df"] = s.search("hash join vector")
            out["rows"] = out["df"].collect()

        try:
            s.search("sort merge join").collect()  # first-search warm-up
            jobs = _jobs_during(spark, search)
            plan = _plan(out["df"])
        finally:
            s.refresh()  # unpersists the cached tables
        assert out["rows"]
        assert jobs <= SEARCH_JOB_BUDGET, f"search ran {jobs} jobs"
        assert "rangepartitioning" not in plan, plan
        assert "BroadcastExchange" not in plan, plan
        assert "TakeOrderedAndProject" in plan, plan
        scan = next(ln for ln in plan.splitlines() if "InMemoryTableScan" in ln)
        assert re.search(r"_pb#\d+ IN \(", scan), scan
        assert re.search(r"\bid#\d+ IN \(", scan), scan


class TestWriteRulePlan:
    def test_create_postings_writes_are_one_exchange(
        self, spark, small_fuzzy_coll, monkeypatch, tmp_path
    ):
        """The create builds postings and field_postings with
        ``carry_partitions=updateBuckets``, and ``Collection.write``
        repartitions by ``_pb`` into the same count, so Spark elides the
        write's repartition: each term-keyed write plans ONE Exchange
        (a second, postings-sized one would come back if the two counts
        disagreed)."""
        from documents_vector_search_spark.collection.partitioning import (
            UPDATE_PB_COL,
        )
        from documents_vector_search_spark.operators.bm25 import (
            build_field_postings,
            build_postings,
        )

        coll = small_fuzzy_coll
        converter = coll.manifest().converter
        ub = int(converter["updateBuckets"])
        plans: dict[str, str] = {}

        class PlanOnly:
            """Stands in for DataFrameWriter: records the plan Collection.
            write would run, writes nothing."""

            def __init__(self, df):
                self.df = df

            def mode(self, _):
                return self

            def partitionBy(self, *_):
                return self

            def parquet(self, path):
                plans[path] = _plan(self.df)

        chunks = coll.read("chunks")
        monkeypatch.setattr(type(chunks), "write", property(PlanOnly))
        coll.write(
            "postings",
            build_postings(
                chunks, id_col="chunk_id",
                text_col="indexed_data", with_dl=True,
                carry_cols=[UPDATE_PB_COL], carry_partitions=ub,
            ),
            converter,
            to=str(tmp_path / "postings"),
        )
        coll.write(
            "field_postings",
            build_field_postings(
                coll.read("documents"), carry_cols=[UPDATE_PB_COL],
                carry_partitions=ub,
            ),
            converter,
            to=str(tmp_path / "field_postings"),
        )
        assert len(plans) == 2
        for path, plan in plans.items():
            assert plan.count("Exchange") == 1, (path, plan)
            assert "Sort [" in plan, (path, plan)  # the term sort
