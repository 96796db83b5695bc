"""CLI adapters + serving tools, driven end-to-end on a temp collection."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from documents_vector_search_spark import cli
from documents_vector_search_spark.serving import (
    CollectionRegistry,
    fetch_from_collection,
    search_in_collection,
)


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("cli_corpus")
    (d / "eng").mkdir()
    (d / "eng" / "joins.txt").write_text(
        "broadcast hash join versus sort merge join in spark"
    )
    (d / "eng" / "skew.txt").write_text("salting fixes skewed shuffle partitions")
    (d / "notes.txt").write_text("weekly sync notes nothing technical")
    return d


@pytest.fixture(scope="module")
def base_path(tmp_path_factory):
    return str(tmp_path_factory.mktemp("cli_collections"))


@pytest.fixture(scope="module", autouse=True)
def created(spark, corpus_dir, base_path, capsys_module_scope=None):
    rc = cli.main(
        [
            "create-files",
            "cli_test",
            "--base-path",
            base_path,
            "--path",
            str(corpus_dir),
            "--chunk-size",
            "200",
            "--chunk-overlap",
            "20",
            "--format",
            "json",
        ]
    )
    assert rc == 0
    return base_path


class TestCLI:
    def test_create_with_layout_flags(
        self, spark, corpus_dir, base_path, capsys
    ):
        """--sq8 / --ivf-nlist reach create_collection: the manifest
        records the layouts and search serves from them."""
        rc = cli.main(
            [
                "create-files", "cli_sq8", "--base-path", base_path,
                "--path", str(corpus_dir), "--chunk-size", "200",
                "--chunk-overlap", "20", "--sq8", "--ivf-nlist", "2",
                "--format", "json",
            ]
        )
        assert rc == 0
        manifest = json.loads(capsys.readouterr().out)
        assert len(manifest["converter"]["sq8"]["mins"]) == 16
        assert manifest["converter"]["ivf"]["nList"] == 2
        rc = cli.main(
            [
                "search", "cli_sq8", "--base-path", base_path,
                "broadcast join", "--format", "json",
            ]
        )
        assert rc == 0
        assert len(json.loads(capsys.readouterr().out)) > 0
        # maintenance command: a freshly created collection has zero
        # quantizer drift, so refit reports a no-op
        rc = cli.main(
            [
                "refit-sq8", "cli_sq8", "--base-path", base_path,
                "--format", "json",
            ]
        )
        assert rc == 0
        assert json.loads(capsys.readouterr().out) == {
            "refit": False, "dims_drifted": 0,
        }
        # same for the coarse quantizer: unchanged corpus → no drift
        rc = cli.main(
            [
                "refit-ivf", "cli_sq8", "--base-path", base_path,
                "--format", "json",
            ]
        )
        assert rc == 0
        assert json.loads(capsys.readouterr().out) == {
            "refit": False, "pq_refit": False,
        }

    def test_stats_and_export_shards(self, spark, base_path, tmp_path, capsys):
        rc = cli.main(
            ["stats", "cli_test", "--base-path", base_path, "--format", "json"]
        )
        assert rc == 0
        stats = json.loads(capsys.readouterr().out)
        assert stats["manifest"]["collectionName"] == "cli_test"
        assert stats["rowCounts"]["documents"] > 0
        assert stats["rowCounts"]["chunks"] == stats["rowCounts"]["embeddings"]

        out = str(tmp_path / "shards")
        rc = cli.main(
            [
                "export-shards", "cli_test", "--base-path", base_path,
                "--output", out, "--n-shards", "2", "--format", "json",
            ]
        )
        assert rc == 0
        report = json.loads(capsys.readouterr().out)
        assert report["exportedDocuments"] == stats["rowCounts"]["documents"]
        assert spark.read.parquet(out).count() == report["exportedDocuments"]

    def test_skew_reports_chunk_ownership(self, base_path, capsys):
        """`skew` on chunks keyed by document_id: every document owns
        at least its title chunk, shares sum ≤ 1, salt factors ≥ 1."""
        rc = cli.main(
            [
                "skew", "cli_test", "--base-path", base_path,
                "--table", "chunks", "--key", "document_id",
                "--top", "3", "--format", "json",
            ]
        )
        assert rc == 0
        rep = json.loads(capsys.readouterr().out)
        assert rep["table"] == "chunks" and rep["key"] == "document_id"
        assert 1 <= len(rep["topKeys"]) <= 3
        assert all(k["n"] >= 1 and k["saltFactor"] >= 1 for k in rep["topKeys"])
        assert sum(k["share"] for k in rep["topKeys"]) <= 1.0 + 1e-9

    def test_search_many_returns_qid_keyed_rows(self, base_path, capsys):
        rc = cli.main(
            [
                "search-many", "cli_test", "--base-path", base_path,
                "broadcast join", "salting skew", "--format", "json",
            ]
        )
        assert rc == 0
        rows = json.loads(capsys.readouterr().out)
        assert {r["qid"] for r in rows} <= {"q0", "q1"}
        assert len(rows) >= 2

    def test_explain_prints_physical_plan(self, base_path, capsys):
        """Both plans of a search: the chunk ranking, whose BM25 scan
        pushes its term filter, and the documents lookup search()
        returns, pruned to the hit documents' ``_pb`` directories."""
        rc = cli.main(
            ["explain", "cli_test", "--base-path", base_path, "hash join"]
        )
        assert rc == 0
        out = capsys.readouterr().out
        ranking, lookup = out.split("== documents lookup ==\n")
        assert ranking.startswith("== chunk ranking ==\n")
        assert "PushedFilters: [In(term" in ranking
        assert "TakeOrderedAndProject" in lookup
        pf = lookup.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        assert "_pb" in pf

    def test_search_returns_ranked_json(self, base_path, capsys):
        rc = cli.main(
            [
                "search",
                "cli_test",
                "broadcast hash join",
                "--base-path",
                base_path,
                "--format",
                "json",
            ]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out[0]["document_id"] == "eng/joins.txt"

    def test_search_with_filter(self, base_path, capsys):
        rc = cli.main(
            [
                "search",
                "cli_test",
                "join",
                "--base-path",
                base_path,
                "--filter",
                'folder1 = "eng"',
                "--format",
                "json",
            ]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert all(r["document_id"].startswith("eng/") for r in out)

    def test_search_docs_bm25f_command(self, base_path, capsys):
        """search-docs: document-level BM25F — the title field is the
        files converter's rel-path chunk 0, so a filename term is
        heavily boosted."""
        rc = cli.main(
            [
                "search-docs", "cli_test", "joins broadcast",
                "--base-path", base_path, "--format", "json",
            ]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out and out[0]["document_id"] == "eng/joins.txt"
        assert set(out[0]) == {"document_id", "score"}
        rc = cli.main(
            [
                "search-docs", "cli_test", "joins broadcast",
                "--base-path", base_path, "--filter", 'folder1 = "hr"',
                "--format", "json",
            ]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out == []  # conjunctive + filtered away

    def test_search_with_snippets_flag(self, base_path, capsys):
        rc = cli.main(
            [
                "search",
                "cli_test",
                "broadcast hash join",
                "--base-path",
                base_path,
                "--snippets",
                "--format",
                "json",
            ]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        top = out[0]
        assert top["document_id"] == "eng/joins.txt"
        assert "hash join" in top["snippet"]

    def test_facets_command(self, base_path, capsys):
        rc = cli.main(
            [
                "facets",
                "cli_test",
                "--base-path",
                base_path,
                "--fields",
                "folder1,source_type",
                "--format",
                "json",
            ]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        counts = {
            (r["facet"], r["value"]): r["n_docs"] for r in out
        }
        assert counts[("folder1", "eng")] == 2
        # root-level file has no folder1 -> NULL facet bucket
        assert counts[("folder1", None)] == 1
        assert counts[("source_type", "localFiles")] == 3

    def test_fetch(self, base_path, capsys):
        rc = cli.main(
            [
                "fetch",
                "cli_test",
                "eng/skew.txt",
                "--base-path",
                base_path,
                "--format",
                "json",
            ]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert "salting" in out["text_slice"]

    def test_fetch_missing_returns_error_code(self, base_path, capsys):
        rc = cli.main(
            ["fetch", "cli_test", "nope.txt", "--base-path", base_path]
        )
        assert rc == 1

    def test_curate_writes_profile(self, base_path, capsys, spark):
        rc = cli.main(
            ["curate", "cli_test", "--base-path", base_path, "--format", "json"]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["profiledDocuments"] > 0
        prof = spark.read.parquet(out["output"])
        cols = set(prof.columns)
        assert {"doc_id", "lang_guess", "quality", "dup_5gram_fraction",
                "fingerprint"} <= cols
        assert prof.count() == out["profiledDocuments"]

    def test_domains_writes_host_profile(self, base_path, capsys, spark):
        rc = cli.main(
            ["domains", "cli_test", "--base-path", base_path, "--format", "json"]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["hosts"] >= 1
        assert len(out["topHosts"]) >= 1
        prof = spark.read.parquet(out["output"])
        assert {"host", "n_docs", "n_urls", "domain", "dup_ratio"} <= set(
            prof.columns
        )
        total = sum(r.n_docs for r in prof.collect())
        assert total > 0
        assert prof.filter(
            (F.col("dup_ratio") < 0) | (F.col("dup_ratio") > 1)
        ).count() == 0

    def test_span_dedup_writes_report(self, base_path, capsys, spark):
        rc = cli.main(
            ["span-dedup", "cli_test", "--base-path", base_path,
             "--span-tokens", "6", "--format", "json"]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["profiledDocuments"] > 0
        rep = spark.read.parquet(out["output"])
        assert {"doc_id", "n_spans", "dup_spans", "dup_ratio"} <= set(
            rep.columns
        )
        assert rep.count() == out["profiledDocuments"]
        assert rep.filter(F.col("dup_ratio") > 1.0).count() == 0

    def test_topics_writes_profile_and_terms(self, base_path, capsys, spark):
        rc = cli.main(
            ["topics", "cli_test", "--base-path", base_path,
             "--nlist", "2", "--terms-k", "3", "--format", "json"]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["topics"] >= 1
        prof = spark.read.parquet(out["profileOutput"])
        assert {"topic_id", "n_docs", "share", "avg_dist"} <= set(prof.columns)
        # shares over all topics partition the chunk set
        rows = prof.collect()
        assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
        assert sum(r.n_docs for r in rows) == out["chunksProfiled"]
        terms = spark.read.parquet(out["termsOutput"])
        assert {"topic_id", "rank", "term", "tfidf"} <= set(terms.columns)
        # <= terms_k ranked terms per topic, ranks 0-based
        for r in terms.collect():
            assert 0 <= r.rank < 3
        # maintenance: unchanged corpus → deterministic fit → no drift
        rc = cli.main(
            ["refit-topics", "cli_test", "--base-path", base_path,
             "--format", "json"]
        )
        assert rc == 0
        assert json.loads(capsys.readouterr().out) == {
            "refit": False, "terms_refit": False,
        }

    def test_dedup_reports_and_applies(self, base_path, tmp_path, capsys, spark):
        """`dvss dedup` clusters near-identical docs and --apply deletes
        the non-canonical members from every table."""
        d = tmp_path / "dup_corpus"
        d.mkdir()
        base = (
            "spark shuffles data between stages when a wide dependency "
            "like a group by or a join forces repartitioning of rows"
        )
        (d / "a.txt").write_text(base)
        (d / "b.txt").write_text(base + " extra")
        (d / "c.txt").write_text("entirely different content about gardening")
        rc = cli.main(
            ["create-files", "cli_dedup", "--base-path", base_path,
             "--path", str(d), "--format", "json"]
        )
        assert rc == 0
        capsys.readouterr()
        rc = cli.main(
            ["dedup", "cli_dedup", "--base-path", base_path,
             "--threshold", "0.5", "--format", "json"]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["documents"] == 3
        assert out["clusteredDocuments"] == 2  # a.txt ~ b.txt
        assert out["clusters"] == 1 and out["duplicates"] == 1
        assert out["applied"] is False
        rep = spark.read.parquet(out["output"])
        assert {"id", "cluster_id", "keep"} <= set(rep.columns)
        # canonical member is the minimum id and is kept
        kept = [r.id for r in rep.filter(F.col("keep")).collect()]
        dropped = [r.id for r in rep.filter(~F.col("keep")).collect()]
        assert kept == [min(kept + dropped)]
        rc = cli.main(
            ["dedup", "cli_dedup", "--base-path", base_path,
             "--threshold", "0.5", "--apply", "--format", "json"]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["applied"] is True and out["duplicates"] == 1
        capsys.readouterr()
        rc = cli.main(
            ["stats", "cli_dedup", "--base-path", base_path,
             "--format", "json"]
        )
        assert rc == 0
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["manifest"]["numberOfDocuments"] == 2
        assert stats["rowCounts"]["documents"] == 2
        # idempotent: a second dedup finds nothing left to cluster
        rc = cli.main(
            ["dedup", "cli_dedup", "--base-path", base_path,
             "--threshold", "0.5", "--format", "json"]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["duplicates"] == 0

    def test_update_files_picks_up_new_file(self, base_path, corpus_dir, capsys):
        import time

        time.sleep(1.1)
        (corpus_dir / "eng" / "aqe.txt").write_text(
            "adaptive query execution replans at runtime"
        )
        rc = cli.main(
            [
                "update-files",
                "cli_test",
                "--base-path",
                base_path,
                "--path",
                str(corpus_dir),
                "--format",
                "json",
            ]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["numberOfDocuments"] == 4


    def test_manifest_driven_update(self, base_path, corpus_dir, capsys):
        """`dvss update <collection>` with NO source args: the reader
        config recorded at create time drives the re-scan (reference
        collection_update_cmd_adapter.py parity)."""
        import json as _json
        import pathlib
        import time

        mpath = (
            pathlib.Path(base_path) / "cli_test" / "manifest.json"
        )
        reader = _json.loads(mpath.read_text())["reader"]
        assert reader["name"] == "files" and reader["path"] == str(corpus_dir)

        time.sleep(1.1)
        (corpus_dir / "eng" / "codegen.txt").write_text(
            "whole stage codegen fuses operators into one function"
        )
        rc = cli.main(
            ["update", "cli_test", "--base-path", base_path, "--format", "json"]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["numberOfDocuments"] >= 4

    def test_update_without_reader_config_errors(
        self, base_path, capsys, tmp_path
    ):
        import json as _json
        import pathlib
        import shutil

        src = pathlib.Path(base_path) / "cli_test"
        dst = pathlib.Path(base_path) / "no_reader"
        if not dst.exists():
            shutil.copytree(src, dst)
        mpath = dst / "manifest.json"
        data = _json.loads(mpath.read_text())
        data["reader"] = {}
        data["collectionName"] = "no_reader"
        mpath.write_text(_json.dumps(data))
        with pytest.raises(SystemExit, match="no updatable reader"):
            cli.main(["update", "no_reader", "--base-path", base_path])


class TestServing:
    def test_registry_discovery_and_search(self, spark, base_path):
        reg = CollectionRegistry(spark, base_path)
        names = [c["name"] for c in reg.list_collections()]
        assert "cli_test" in names
        hits = search_in_collection(reg, "cli_test", "sort merge join")
        # hybrid ranking mixes the (hash) vector index, so assert
        # membership, not position — position depends on corpus size
        assert "eng/joins.txt" in {h["document_id"] for h in hits}
        # searcher cache: same object on second call
        assert reg.searcher("cli_test") is reg.searcher("cli_test")

    def test_query_or_filter_required(self, spark, base_path):
        reg = CollectionRegistry(spark, base_path)
        with pytest.raises(ValueError, match="query or metadata_filter"):
            search_in_collection(reg, "cli_test")

    def test_filter_only_search(self, spark, base_path):
        reg = CollectionRegistry(spark, base_path)
        hits = search_in_collection(
            reg, "cli_test", query="join", metadata_filter='folder1 = "eng"'
        )
        assert all(h["document_id"].startswith("eng/") for h in hits)

    def test_empty_query_with_filter(self, spark, base_path):
        # Q8: MCP allows an empty query as long as a filter is present
        # (reference collection_search_unified_mcp_adapter.py:202-212);
        # the empty string still embeds and ranks by vector proximity
        reg = CollectionRegistry(spark, base_path)
        hits = search_in_collection(
            reg, "cli_test", query="", metadata_filter='folder1 = "eng"'
        )
        assert len(hits) > 0
        assert all(h["document_id"].startswith("eng/") for h in hits)

    def test_missing_collection(self, spark, base_path):
        reg = CollectionRegistry(spark, base_path)
        with pytest.raises(KeyError, match="does not exist"):
            reg.searcher("ghost")

    def test_search_with_snippets(self, spark, base_path):
        reg = CollectionRegistry(spark, base_path)
        hits = search_in_collection(
            reg, "cli_test", "broadcast hash join", include_snippets=True
        )
        by_id = {h["document_id"]: h for h in hits}
        hit = by_id["eng/joins.txt"]
        # document text = "<rel_path>\n\n<content>" (reference files
        # converter envelope) → the matching content line is line 3
        assert hit["snippet_line"] == 3
        assert "broadcast hash join" in hit["snippet"]
        # 'join' occurs twice, 'broadcast'/'hash' once each
        assert hit["snippet_hits"] == 4

    def test_snippets_require_query(self, spark, base_path):
        reg = CollectionRegistry(spark, base_path)
        with pytest.raises(ValueError, match="non-empty query"):
            search_in_collection(
                reg, "cli_test", query="",
                metadata_filter='folder1 = "eng"', include_snippets=True,
            )

    def test_search_with_expansion(self, spark, base_path):
        reg = CollectionRegistry(spark, base_path)
        hits = search_in_collection(
            reg, "cli_test", "broadcast hash join", expand_query=True
        )
        assert "eng/joins.txt" in {h["document_id"] for h in hits}
        # the expansion weights themselves: originals at lam/|Q|,
        # expansion terms mined from the feedback chunks
        w = dict(reg.searcher("cli_test").rm3_weights("broadcast hash join"))
        assert w["broadcast"] == pytest.approx(0.5 / 3)
        assert any(t not in ("broadcast", "hash", "join") for t in w)

    def test_expand_and_diversify_conflict(self, spark, base_path):
        reg = CollectionRegistry(spark, base_path)
        with pytest.raises(ValueError, match="cannot combine"):
            search_in_collection(
                reg, "cli_test", "join",
                diversify_lambda=0.5, expand_query=True,
            )

    def test_facets_tool(self, spark, base_path):
        from documents_vector_search_spark.serving import (
            facets_in_collection,
        )

        reg = CollectionRegistry(spark, base_path)
        rows = facets_in_collection(reg, "cli_test", ["folder1"])
        counts = {
            r["value"]: r["n_docs"] for r in rows if r["facet"] == "folder1"
        }
        # ≥2: earlier update tests may have added more eng/ docs
        assert counts.get("eng", 0) >= 2
        # query-restricted facet counts only count matching docs
        rows_q = facets_in_collection(
            reg, "cli_test", ["folder1"], query="join"
        )
        counts_q = {
            r["value"]: r["n_docs"]
            for r in rows_q
            if r["facet"] == "folder1"
        }
        assert counts_q == {"eng": 1}
        with pytest.raises(ValueError, match="facet field"):
            facets_in_collection(reg, "cli_test", [])

    def test_fetch_tool(self, spark, base_path):
        reg = CollectionRegistry(spark, base_path)
        got = fetch_from_collection(reg, "cli_test", "notes.txt")
        assert "weekly sync" in got["text_slice"]

    def test_warm_runs_every_collection_and_reports_seconds(
        self, spark, base_path
    ):
        """warm() pays JVM/codegen cold-start at startup (serve_mcp
        calls it) and must leave the registry fully serviceable; the
        <3s-after-warm latency claim itself is measured, not asserted
        (CollectionRegistry docstring)."""
        reg = CollectionRegistry(spark, base_path)
        took = reg.warm()
        names = {c["name"] for c in reg.list_collections()}
        assert set(took) == names
        assert all(t == t and t >= 0 for t in took.values())  # no NaN
        hits = search_in_collection(reg, "cli_test", "sort merge join")
        assert hits

    def test_registry_caches_tables_and_refresh_sees_updates(
        self, spark, base_path
    ):
        """The serving registry defaults to cached index tables (the
        long-lived-process configuration); refresh() drops them so an
        externally mutated collection serves current rows."""
        reg = CollectionRegistry(spark, base_path)
        s = reg.searcher("cli_test")
        assert s._cache_tables is True
        search_in_collection(reg, "cli_test", "sort merge join")
        assert s._cached  # tables actually persisted
        reg.refresh("cli_test")
        assert not s._cached
        # uncached registries remain constructible for one-shot tools
        reg2 = CollectionRegistry(spark, base_path, cache_tables=False)
        assert reg2.searcher("cli_test")._cache_tables is False

    def test_build_mcp_app_wires_tools(self, spark, base_path):
        # serve_mcp's wiring exercised with an injected FastMCP stand-in
        # (the real class comes from `mcp`, absent in this container)
        from documents_vector_search_spark.serving import build_mcp_app

        class FakeMCP:
            def __init__(self, name):
                self.name = name
                self.tools = {}

            def tool(self):
                def register(fn):
                    self.tools[fn.__name__] = fn
                    return fn

                return register

            def run(self, transport):  # pragma: no cover - not exercised
                raise AssertionError("run should not be called in tests")

        reg = CollectionRegistry(spark, base_path)
        app = build_mcp_app(reg, FakeMCP)
        assert set(app.tools) == {
            "search", "search_many", "fetch", "facets", "suggest",
            "complete", "search_documents", "similar_documents",
        }
        # wiring only (ranking behavior is pinned in TestMoreLikeThis);
        # this corpus' documents share no terms, so bm25 MLT correctly
        # finds nothing — the tool must still answer with a clean list
        sim = app.tools["similar_documents"](
            "cli_test", "eng/joins.txt", method="bm25", max_terms=6
        )
        assert isinstance(sim, list)
        assert all(h["document_id"] != "eng/joins.txt" for h in sim)
        doc_hits = app.tools["search_documents"](
            "cli_test", "sort merge join"
        )
        assert any(h["document_id"] == "eng/joins.txt" for h in doc_hits)
        assert all(set(h) == {"document_id", "score"} for h in doc_hits)
        comp = app.tools["complete"]("cli_test", "sh")
        assert any(r["term"] == "shuffle" for r in comp)
        assert {
            r["qraw"]: r["suggestion"]
            for r in app.tools["suggest"]("cli_test", "shufle")
        } == {"shufle": "shuffle"}
        hits = app.tools["search"]("cli_test", query="sort merge join")
        assert any(h["document_id"] == "eng/joins.txt" for h in hits)
        got = app.tools["fetch"]("cli_test", "notes.txt")
        assert "weekly sync" in got["text_slice"]
        batch = app.tools["search_many"](
            "cli_test", ["sort merge join", "salting skew"]
        )
        assert set(batch) == {"q0", "q1"}
        assert any(h["document_id"] == "eng/joins.txt" for h in batch["q0"])
        assert any(h["document_id"] == "eng/skew.txt" for h in batch["q1"])
        # diversified variants reach the searcher through both tools
        div = app.tools["search"](
            "cli_test", query="sort merge join", diversify_lambda=0.5
        )
        assert len(div) > 0
        div_batch = app.tools["search_many"](
            "cli_test", ["sort merge join", "salting skew"],
            diversify_lambda=0.5,
        )
        assert set(div_batch) == {"q0", "q1"}
        assert all(len(v) > 0 for v in div_batch.values())

    def test_delete_command(self, spark, corpus_dir, base_path, capsys):
        # a THROWAWAY collection: deleting from the shared module
        # fixture would make the module order-dependent
        rc = cli.main(
            ["create-files", "cli_del", "--base-path", base_path,
             "--path", str(corpus_dir), "--chunk-size", "200",
             "--chunk-overlap", "20", "--format", "json"]
        )
        assert rc == 0
        n0 = json.loads(capsys.readouterr().out)["numberOfDocuments"]
        rc = cli.main(
            ["delete", "cli_del", "notes.txt", "--base-path", base_path,
             "--format", "json"]
        )
        assert rc == 0
        report = json.loads(capsys.readouterr().out)
        assert report["remainingDocuments"] == n0 - 1


class TestPhraseCLI:
    def test_create_positional_and_phrase_search(
        self, spark, corpus_dir, base_path, capsys
    ):
        rc = cli.main(
            ["create-files", "cli_phrase", "--base-path", base_path,
             "--path", str(corpus_dir), "--chunk-size", "200",
             "--chunk-overlap", "20", "--positional-postings",
             "--format", "json"]
        )
        assert rc == 0
        manifest = json.loads(capsys.readouterr().out)
        assert manifest["converter"]["phrase"] == {"positional": True}
        # exact adjacency: "hash join" matches joins.txt ("broadcast
        # hash join versus sort merge join"), not skew.txt/notes.txt
        rc = cli.main(
            ["search", "cli_phrase", "hash join", "--base-path", base_path,
             "--indexes", "phrase", "--format", "json"]
        )
        assert rc == 0
        hits = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert [h["document_id"] for h in hits] == ["eng/joins.txt"]
        # reversed order is NOT the phrase
        rc = cli.main(
            ["search", "cli_phrase", "join hash", "--base-path", base_path,
             "--indexes", "phrase", "--format", "json"]
        )
        assert rc == 0
        assert json.loads(capsys.readouterr().out.strip().splitlines()[-1]) == []

    def test_serving_search_indexes_param(self, spark, base_path):
        registry = CollectionRegistry(spark, base_path)
        hits = search_in_collection(
            registry, "cli_phrase", "hash join", indexes=["phrase"]
        )
        assert [h["document_id"] for h in hits] == ["eng/joins.txt"]
        # non-positional collection: loud error, not silent fallback
        with pytest.raises(ValueError, match="positional"):
            search_in_collection(
                registry, "cli_test", "hash join", indexes=["phrase"]
            )


class TestFuzzyCLI:
    def test_suggest_command(self, base_path, capsys):
        rc = cli.main(
            ["suggest", "cli_test", "brodcast hach", "--base-path",
             base_path, "--format", "json"]
        )
        assert rc == 0
        rows = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        got = {r["qraw"]: r["suggestion"] for r in rows}
        assert got == {"brodcast": "broadcast", "hach": "hash"}

    def test_search_fuzzy_flag(self, base_path, capsys):
        rc = cli.main(
            ["search", "cli_test", "brodcast hach jion", "--base-path",
             base_path, "--indexes", "bm25", "--fuzzy", "--format", "json"]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out and out[0]["document_id"] == "eng/joins.txt"
        # without --fuzzy the misspelled conjunctive query matches nothing
        rc = cli.main(
            ["search", "cli_test", "brodcast hach jion", "--base-path",
             base_path, "--indexes", "bm25", "--format", "json"]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out == []

    def test_serving_suggest_tool(self, spark, base_path):
        from documents_vector_search_spark.serving import suggest_in_collection

        registry = CollectionRegistry(spark, base_path)
        rows = suggest_in_collection(registry, "cli_test", "shufle")
        assert {r["qraw"]: r["suggestion"] for r in rows} == {
            "shufle": "shuffle"
        }


class TestQLRanker:
    def test_ql_ranker_returns_disjunctive_hits(self, base_path, capsys):
        # "broadcast salting": no document has BOTH terms, so
        # conjunctive BM25 returns nothing while QL (disjunctive
        # candidates) ranks the single-term matches
        rc = cli.main(
            ["search", "cli_test", "broadcast salting", "--base-path",
             base_path, "--indexes", "bm25", "--format", "json"]
        )
        assert rc == 0
        assert json.loads(capsys.readouterr().out.strip().splitlines()[-1]) == []
        rc = cli.main(
            ["search", "cli_test", "broadcast salting", "--base-path",
             base_path, "--indexes", "bm25", "--ranker", "ql",
             "--format", "json"]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        ids = {r["document_id"] for r in out}
        assert {"eng/joins.txt", "eng/skew.txt"} <= ids

    def test_ql_matches_operator_on_collection(self, spark, base_path):
        """Serving QL (manifest-literal coll_len, postings-carried dl)
        == the standalone operator run ad-hoc over the chunk table."""
        from documents_vector_search_spark.collection import (
            Collection,
            CollectionSearcher,
        )
        from documents_vector_search_spark.operators.bm25 import (
            ql_dirichlet_topk,
        )

        coll = Collection(spark, base_path, "cli_test")
        s = CollectionSearcher(coll)
        served = s.search_chunks(
            "sort merge join", 10, indexes=("bm25",), ranker="ql"
        ).collect()
        adhoc = ql_dirichlet_topk(
            coll.read("chunks"),
            "sort merge join",
            10,
            id_col="chunk_id",
            text_col="indexed_data",
        ).collect()
        assert {(r["chunk_id"], r["score"]) for r in served} == {
            (r["chunk_id"], r["score"]) for r in adhoc
        }

    def test_ql_rejects_expand_and_diversify(self, spark, base_path):
        from documents_vector_search_spark.collection import (
            Collection,
            CollectionSearcher,
        )

        s = CollectionSearcher(Collection(spark, base_path, "cli_test"))
        with pytest.raises(ValueError, match="RM3"):
            s.search_chunks("join", 5, ranker="ql", expand_query=True)
        with pytest.raises(ValueError, match="bm25 ranker"):
            s.search("join", ranker="ql", diversify_lambda=0.5)

    def test_ql_batch_equals_per_query(self, spark, base_path):
        from documents_vector_search_spark.collection import (
            Collection,
            CollectionSearcher,
        )

        s = CollectionSearcher(Collection(spark, base_path, "cli_test"))
        queries = {"q0": "broadcast salting", "q1": "sort merge join",
                   "q2": "zzq nothing"}
        batch = s.search_chunks_many(
            queries, 10, indexes=("bm25",), ranker="ql"
        )
        for qid, text in queries.items():
            single = [
                (r["chunk_id"], r["rank"], r["score"])
                for r in s.search_chunks(
                    text, 10, indexes=("bm25",), ranker="ql"
                ).orderBy("rank").collect()
            ]
            got = [
                (r["chunk_id"], r["rank"], r["score"])
                for r in batch.filter(F.col("qid") == qid)
                .orderBy("rank").collect()
            ]
            assert got == single, qid


class TestPagination:
    def test_offset_pages_are_disjoint_and_ordered(self, spark, base_path):
        from documents_vector_search_spark.collection import (
            Collection,
            CollectionSearcher,
        )

        s = CollectionSearcher(Collection(spark, base_path, "cli_test"))
        full = [
            r["document_id"]
            for r in s.search("join skew notes", max_chunks=30,
                              max_documents=10, ranker="ql",
                              indexes=("bm25",)).collect()
        ]
        assert len(full) >= 3
        page1 = [
            r["document_id"]
            for r in s.search("join skew notes", max_chunks=30,
                              max_documents=2, ranker="ql",
                              indexes=("bm25",)).collect()
        ]
        page2 = [
            r["document_id"]
            for r in s.search("join skew notes", max_chunks=30,
                              max_documents=2, ranker="ql",
                              indexes=("bm25",), document_offset=2).collect()
        ]
        assert page1 == full[:2]
        assert page2 == full[2:4]

    def test_cli_offset_flag(self, base_path, capsys):
        rc = cli.main(
            ["search", "cli_test", "join skew notes", "--base-path",
             base_path, "--indexes", "bm25", "--ranker", "ql",
             "--max-chunks", "30", "--max-documents", "2",
             "--offset", "2", "--format", "json"]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert len(out) >= 1  # third-ranked document exists


class TestEvaluateCLI:
    def test_evaluate_reports_metrics_and_mean(
        self, spark, base_path, tmp_path, capsys
    ):
        queries = {
            "q0": "broadcast hash join",
            "q1": "salting skewed",
            "q2": "zzq nothing matches",  # retrieves nothing
        }
        qpath = str(tmp_path / "queries.json")
        with open(qpath, "w") as fh:
            json.dump(queries, fh)
        qrels = spark.createDataFrame(
            [
                ("q0", "eng/joins.txt", 1),
                ("q1", "eng/skew.txt", 1),
                ("q1", "notes.txt", 1),  # relevant but unretrievable
            ],
            "qid string, doc_id string, rel int",
        )
        rpath = str(tmp_path / "qrels.parquet")
        qrels.write.mode("overwrite").parquet(rpath)
        rc = cli.main(
            ["evaluate", "cli_test", "--base-path", base_path,
             "--queries", qpath, "--qrels", rpath, "--k", "5",
             "--indexes", "bm25", "--format", "json"]
        )
        assert rc == 0
        rows = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        byq = {r["qid"]: r for r in rows}
        assert byq["q0"]["mrr"] == 1.0 and byq["q0"]["ndcg"] == 1.0
        # q1 (bm25-only): skew.txt retrieved, notes.txt shares no query
        # term -> recall 1/2
        assert byq["q1"]["mrr"] == 1.0
        assert byq["q1"]["recall"] == 0.5
        # q2 retrieved nothing -> zero row (trec_eval convention), and
        # the mean averages over ALL queries including it
        assert byq["q2"]["mrr"] == 0.0 and byq["q2"]["ndcg"] == 0.0
        mean = byq["__mean__"]
        assert mean["mrr"] == round(2 / 3, 6)
        assert mean["recall"] == round((1.0 + 0.5 + 0.0) / 3, 6)

    def test_evaluate_golden_verbatim(self, spark, tmp_path, capsys):
        """Golden end-to-end: a fixed 4-doc corpus + 3 queries + graded
        qrels whose every metric is hand-computed from the definitions
        in operators/ir_eval.py — the CLI's JSON output is asserted
        VERBATIM, including the trec_eval zero-row for the query that
        retrieves nothing and the __mean__ row averaging over it."""
        from documents_vector_search_spark.collection import (
            Collection,
            create_collection,
        )

        base = str(tmp_path / "goldbase")
        coll = Collection(spark, base, "evalgold")
        docs = spark.createDataFrame(
            [
                ("d1", "alpha beta gamma"),
                ("d2", "alpha alpha delta"),   # tf=2 → outranks d1
                ("d3", "beta epsilon"),
                ("d4", "zeta eta theta"),
            ],
            "id string, text string",
        ).selectExpr(
            "id",
            "concat('doc://', id) AS url",
            "map('lang', 'en') AS metadata",
            "text",
            "timestamp'2024-01-01 00:00:00' AS last_modified_at",
            "'golden' AS source_type",
        )
        create_collection(coll, docs, chunk_size=200, chunk_overlap=0)

        qpath = str(tmp_path / "gq.json")
        with open(qpath, "w") as fh:
            json.dump(
                {"q1": "alpha", "q2": "zeta", "q3": "nomatchterm"}, fh
            )
        rpath = str(tmp_path / "gqrels.csv")
        with open(rpath, "w") as fh:
            fh.write(
                "qid,doc_id,rel\n"
                "q1,d1,1\n"
                "q1,d2,2\n"
                "q2,d4,1\n"
                "q3,d9,1\n"
            )
        rc = cli.main(
            ["evaluate", "evalgold", "--base-path", base,
             "--queries", qpath, "--qrels", rpath, "--k", "5",
             "--indexes", "bm25", "--format", "json"]
        )
        assert rc == 0
        rows = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        # q1 'alpha': d2 (tf=2) at rank 1 rel=2, d1 at rank 2 rel=1 →
        #   DCG = 3/log2(2) + 1/log2(3) = IDCG → ndcg 1.0; MRR 1.0;
        #   P@5 = 2/5; R = 2/2; AP = (1/1 + 2/2)/2 = 1.0
        # q2 'zeta': d4 at rank 1, the only relevant → all 1.0, P = 1/5
        # q3 retrieves nothing → zero row; qrels d9 never retrievable
        # means over ALL THREE queries (trec_eval convention)
        assert rows == [
            {"qid": "q1", "ndcg": 1.0, "mrr": 1.0, "precision": 0.4,
             "recall": 1.0, "ap": 1.0},
            {"qid": "q2", "ndcg": 1.0, "mrr": 1.0, "precision": 0.2,
             "recall": 1.0, "ap": 1.0},
            {"qid": "q3", "ndcg": 0.0, "mrr": 0.0, "precision": 0.0,
             "recall": 0.0, "ap": 0.0},
            {"qid": "__mean__", "ndcg": 0.666667, "mrr": 0.666667,
             "precision": 0.2, "recall": 0.666667, "ap": 0.666667},
        ]


    def test_evaluate_bm25f_branch(self, spark, tmp_path, capsys):
        """--indexes bm25f routes through the batched document-level
        field-weighted ranker: the uniquely-matching query still scores
        perfect metrics, and the no-match query gets the zero row."""
        from documents_vector_search_spark.collection import (
            Collection,
            create_collection,
        )

        base = str(tmp_path / "fbase")
        coll = Collection(spark, base, "evalf")
        docs = spark.createDataFrame(
            [
                ("d1", "alpha beta gamma"),
                ("d2", "zeta eta theta"),
                ("d3", "iota kappa"),
            ],
            "id string, text string",
        ).selectExpr(
            "id",
            "concat('doc://', id) AS url",
            "map('lang', 'en') AS metadata",
            "text",
            "timestamp'2024-01-01 00:00:00' AS last_modified_at",
            "'golden' AS source_type",
        )
        create_collection(coll, docs, chunk_size=200, chunk_overlap=0)
        qpath = str(tmp_path / "q.json")
        with open(qpath, "w") as fh:
            json.dump({"q1": "zeta", "q2": "nomatchterm"}, fh)
        rpath = str(tmp_path / "r.csv")
        with open(rpath, "w") as fh:
            fh.write("qid,doc_id,rel\nq1,d2,1\nq2,d9,1\n")
        rc = cli.main(
            ["evaluate", "evalf", "--base-path", base,
             "--queries", qpath, "--qrels", rpath, "--k", "5",
             "--indexes", "bm25f", "--format", "json"]
        )
        assert rc == 0
        rows = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        by_qid = {r["qid"]: r for r in rows}
        assert by_qid["q1"]["ndcg"] == 1.0 and by_qid["q1"]["mrr"] == 1.0
        assert by_qid["q2"] == {
            "qid": "q2", "ndcg": 0.0, "mrr": 0.0, "precision": 0.0,
            "recall": 0.0, "ap": 0.0,
        }
        assert by_qid["__mean__"]["ndcg"] == 0.5


class TestBatchFuzzy:
    def test_search_many_fuzzy_matches_per_query_fuzzy(self, spark, base_path):
        from documents_vector_search_spark.collection import (
            Collection,
            CollectionSearcher,
        )

        s = CollectionSearcher(Collection(spark, base_path, "cli_test"))
        queries = {"q0": "brodcast hach jion", "q1": "salting skewd"}
        batch = s.search_many(queries, max_chunks=15, fuzzy=True)
        by_q = {
            qid: [
                (r["document_id"], r["doc_rank"])
                for r in batch.filter(F.col("qid") == qid)
                .orderBy("doc_rank").collect()
            ]
            for qid in queries
        }
        for qid, text in queries.items():
            single = [
                (r["document_id"], r["rank"])
                for r in s.search(text, max_chunks=15, fuzzy=True)
                .withColumnRenamed("doc_rank", "rank").collect()
            ]
            assert by_q[qid] == single, qid
        assert by_q["q0"][0][0] == "eng/joins.txt"
        # corrected "salting skewed" must surface skew.txt (hybrid rank
        # order among hits is the vector+bm25 fusion's business)
        assert "eng/skew.txt" in {d for d, _ in by_q["q1"]}

    def test_ql_batch_with_metadata_filter(self, spark, base_path):
        from documents_vector_search_spark.collection import (
            Collection,
            CollectionSearcher,
        )

        s = CollectionSearcher(
            Collection(spark, base_path, "cli_test"),
            field_types={"folder1": "string"},
        )
        queries = {"q0": "broadcast salting", "q1": "sort merge join"}
        flt = 'folder1 = "eng"'
        batch = s.search_chunks_many(
            queries, 10, indexes=("bm25",), ranker="ql", metadata_filter=flt
        )
        for qid, text in queries.items():
            single = [
                (r["chunk_id"], r["rank"], r["score"])
                for r in s.search_chunks(
                    text, 10, indexes=("bm25",), ranker="ql",
                    metadata_filter=flt,
                ).orderBy("rank").collect()
            ]
            got = [
                (r["chunk_id"], r["rank"], r["score"])
                for r in batch.filter(F.col("qid") == qid)
                .orderBy("rank").collect()
            ]
            assert got == single and got, qid


class TestUrlDedupCli:
    def test_report_and_apply(self, spark, tmp_path, capsys):
        from documents_vector_search_spark.collection import (
            Collection,
            create_collection,
        )

        docs = spark.createDataFrame(
            [
                ("a1", "HTTP://Site.com/x?utm_source=f", {}, "alpha text",
                 "2024-03-01 00:00:00", "s"),
                ("a2", "http://site.com/x", {}, "beta text",
                 "2024-03-01 00:00:00", "s"),
                ("b1", "http://site.com/other", {}, "gamma text",
                 "2024-03-01 00:00:00", "s"),
                ("c1", None, {}, "no url text",
                 "2024-03-01 00:00:00", "s"),
            ],
            "id string, url string, metadata map<string,string>, "
            "text string, last_modified_at string, source_type string",
        ).withColumn(
            "last_modified_at", F.col("last_modified_at").cast("timestamp")
        )
        coll = Collection(spark, str(tmp_path), "urldd")
        create_collection(coll, docs)

        rc = cli.main(
            ["url-dedup", "urldd", "--base-path", str(tmp_path),
             "--format", "json"]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        # c1 (null url) excluded; a1+a2 collide on http://site.com/x
        assert out["documentsWithUrl"] == 3
        assert out["normalizedUrls"] == 2
        assert out["duplicates"] == 1 and out["applied"] is False

        rc = cli.main(
            ["url-dedup", "urldd", "--base-path", str(tmp_path),
             "--apply", "--format", "json"]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["applied"] is True
        ids = {r.id for r in coll.read("documents").collect()}
        # min-id a1 survives; the null-url doc untouched
        assert ids == {"a1", "b1", "c1"}
        assert coll.manifest().numberOfDocuments == 3


class TestMoreLikeThis:
    @pytest.fixture(scope="class")
    def mlt_coll(self, spark, tmp_path_factory):
        from documents_vector_search_spark.collection import (
            Collection,
            create_collection,
        )

        base = str(tmp_path_factory.mktemp("mlt"))
        docs = spark.createDataFrame(
            [
                ("spark1", "u1", {}, "spark shuffle\n\nbroadcast join "
                 "strategies and shuffle partitions in spark",
                 "2024-03-01 00:00:00", "s"),
                ("spark2", "u2", {}, "spark tuning\n\nshuffle partitions "
                 "and broadcast join tuning in spark engines",
                 "2024-03-01 00:00:00", "s"),
                ("cook1", "u3", {}, "pasta guide\n\nboil the pasta and "
                 "season the sauce with basil",
                 "2024-03-01 00:00:00", "s"),
                ("cook2", "u4", {}, "sauce notes\n\nseason tomato sauce "
                 "with basil and garlic for pasta",
                 "2024-03-01 00:00:00", "s"),
                ("misc1", "u5", {}, "meeting notes\n\nagenda review and "
                 "action items from tuesday",
                 "2024-03-01 00:00:00", "s"),
            ],
            "id string, url string, metadata map<string,string>, "
            "text string, last_modified_at string, source_type string",
        ).withColumn(
            "last_modified_at", F.col("last_modified_at").cast("timestamp")
        )
        coll = Collection(spark, base, "mlt")
        create_collection(coll, docs, title_from_text=True)
        return base, coll

    def test_vector_method_ranks_the_twin_first(self, mlt_coll):
        from documents_vector_search_spark.collection import (
            CollectionSearcher,
        )

        _, coll = mlt_coll
        rows = CollectionSearcher(coll).more_like_this(
            "spark1", k=3, method="vector"
        ).collect()
        ids = [r.document_id for r in rows]
        assert "spark1" not in ids           # source excluded
        assert ids[0] == "spark2"            # the near-twin wins

    def test_bm25_method_ranks_the_twin_first(self, mlt_coll):
        from documents_vector_search_spark.collection import (
            CollectionSearcher,
        )

        _, coll = mlt_coll
        rows = CollectionSearcher(coll).more_like_this(
            "cook1", k=3, method="bm25", max_terms=6
        ).collect()
        ids = [r.document_id for r in rows]
        assert "cook1" not in ids
        assert ids[0] == "cook2"

    def test_unknown_document_raises(self, mlt_coll):
        from documents_vector_search_spark.collection import (
            CollectionSearcher,
        )

        _, coll = mlt_coll
        with pytest.raises(KeyError, match="nope"):
            CollectionSearcher(coll).more_like_this("nope", method="bm25")
        with pytest.raises(KeyError, match="nope"):
            CollectionSearcher(coll).more_like_this("nope", method="vector")

    def test_cli_similar(self, mlt_coll, capsys):
        base, _ = mlt_coll
        rc = cli.main(
            ["similar", "mlt", "spark2", "--base-path", base,
             "--method", "bm25", "--format", "json"]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out[0]["document_id"] == "spark1"


class TestDiffCli:
    def test_changeset_counts_and_exit_codes(self, spark, tmp_path, capsys):
        schema = "k bigint, v string, w double"
        old_p = str(tmp_path / "snap_old")
        new_p = str(tmp_path / "snap_new")
        out_p = str(tmp_path / "changeset")
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], schema
        ).write.parquet(old_p)
        spark.createDataFrame(
            [(2, "b", 2.0), (3, "c", 9.0), (4, "d", 4.0)], schema
        ).write.parquet(new_p)

        rc = cli.main(
            ["diff", "--old", old_p, "--new", new_p, "--key", "k",
             "--output", out_p, "--format", "json"]
        )
        assert rc == 1  # differences exist -> gate fires
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert (out["added"], out["removed"], out["changed"]) == (1, 1, 1)
        assert out["compareColumns"] == ["v", "w"]
        written = {r.status for r in spark.read.parquet(out_p).collect()}
        assert written == {"added", "removed", "changed"}

        # identical snapshots: clean exit, empty changeset
        rc = cli.main(
            ["diff", "--old", old_p, "--new", old_p, "--key", "k",
             "--format", "json"]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["totalChanges"] == 0

    def test_compare_subset_ignores_other_columns(self, spark, tmp_path,
                                                  capsys):
        schema = "k bigint, v string, noise double"
        old_p = str(tmp_path / "sub_old")
        new_p = str(tmp_path / "sub_new")
        spark.createDataFrame([(1, "a", 1.0)], schema).write.parquet(old_p)
        spark.createDataFrame([(1, "a", 99.0)], schema).write.parquet(new_p)
        rc = cli.main(
            ["diff", "--old", old_p, "--new", new_p, "--key", "k",
             "--compare", "v", "--format", "json"]
        )
        assert rc == 0  # noise column excluded from the compare set


class TestPagerankCli:
    def test_top_nodes_and_rank_table(self, spark, tmp_path, capsys):
        edges_p = str(tmp_path / "edges")
        out_p = str(tmp_path / "ranks")
        spark.createDataFrame(
            [("s1", "hub", 1), ("s2", "hub", 1), ("hub", "s1", 1)],
            "src string, dst string, w bigint",
        ).write.parquet(edges_p)
        rc = cli.main(
            ["pagerank", "--edges", edges_p, "--weight-col", "w",
             "--output", out_p, "--top", "2", "--format", "json"]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        # hub and s1 trade mass around the cycle; s2 (a pure source,
        # nothing feeds it) must rank below both at any iteration count
        assert {t["node"] for t in out["top"]} == {"hub", "s1"}
        assert len(out["top"]) == 2
        ranks = {r.node for r in spark.read.parquet(out_p).collect()}
        assert ranks == {"s1", "s2", "hub"}


class TestScd2Cli:
    def test_fold_changes_into_history(self, spark, tmp_path, capsys):
        cur_p = str(tmp_path / "dim")
        ch_p = str(tmp_path / "changes")
        out_p = str(tmp_path / "history")
        spark.createDataFrame(
            [(1, "v0"), (2, "w0")], "k bigint, attr string"
        ).write.parquet(cur_p)
        spark.createDataFrame(
            [(1, "v1", 100), (1, "v2", 200), (2, "w0", 150)],
            "k bigint, attr string, effective_ts bigint",
        ).write.parquet(ch_p)
        rc = cli.main(
            ["scd2", "--current", cur_p, "--changes", ch_p,
             "--key", "k", "--output", out_p, "--format", "json"]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        # key 1: v0 -> v1 -> v2 (3 versions); key 2: the ts-150 re-send
        # is a no-op and collapses (1 version)
        assert out["versions"] == 4 and out["openRows"] == 2
        assert out["keys"] == 2 and out["attrColumns"] == ["attr"]
        hist = spark.read.parquet(out_p)
        open_attrs = {
            r["k"]: r["attr"]
            for r in hist.filter("is_current").collect()
        }
        assert open_attrs == {1: "v2", 2: "w0"}


class TestProfileCli:
    def test_profiles_any_parquet(self, spark, tmp_path, capsys):
        p = str(tmp_path / "drop")
        spark.createDataFrame(
            [(1, "a"), (2, None), (3, "ccc")], "k bigint, s string"
        ).write.parquet(p)
        rc = cli.main(["profile", p, "--exact", "--format", "json"])
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["nRows"] == 3
        cols = {c["column"]: c for c in out["columns"]}
        assert cols["s"]["nNulls"] == 1 and cols["s"]["nDistinct"] == 2
        assert cols["k"]["min"] == "1" and cols["k"]["max"] == "3"


class TestPersonalizedPagerankCli:
    def test_seeds_flag_runs_ppr(self, spark, tmp_path, capsys):
        edges_p = str(tmp_path / "pedges")
        spark.createDataFrame(
            [("seed", "a", 1), ("a", "seed", 1), ("b", "c", 1)],
            "src string, dst string, w bigint",
        ).write.parquet(edges_p)
        rc = cli.main(
            ["pagerank", "--edges", edges_p, "--weight-col", "w",
             "--seeds", "seed", "--top", "4", "--format", "json"]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        ranks = {t["node"]: t["rankMicro"] for t in out["top"]}
        assert ranks["seed"] > 0 and ranks["a"] > 0
        assert ranks["b"] == 0 and ranks["c"] == 0  # off the seed island


class TestFkCli:
    def test_orphans_gate_exit_code(self, spark, tmp_path, capsys):
        child_p = str(tmp_path / "child")
        parent_p = str(tmp_path / "parent")
        spark.createDataFrame(
            [(1, 10), (2, 99)], "id bigint, fk bigint"
        ).write.parquet(child_p)
        spark.createDataFrame([(10,)], "pk bigint").write.parquet(parent_p)
        rc = cli.main(["fk", child_p, parent_p, "--key", "fk=pk"])
        assert rc == 1  # orphan_frac 0.5 > default tolerance 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["orphanRows"] == 1 and out["childRows"] == 2
        rc = cli.main(
            ["fk", child_p, parent_p, "--key", "fk=pk",
             "--max-orphan-frac", "0.6"]
        )
        assert rc == 0
        capsys.readouterr()

    def test_gate_uses_unrounded_ratio(
        self, spark, tmp_path, monkeypatch, capsys
    ):
        """ADVICE r11: an orphan fraction of 4e-7 rounds to 0.0 in the
        displayed report but must still fail the default 0.0 tolerance
        — the exit gate compares orphan_rows/child_rows unrounded."""
        from documents_vector_search_spark.operators import profiling

        child_p = str(tmp_path / "child")
        parent_p = str(tmp_path / "parent")
        spark.createDataFrame(
            [(1, 10)], "id bigint, fk bigint"
        ).write.parquet(child_p)
        spark.createDataFrame([(10,)], "pk bigint").write.parquet(parent_p)

        def fake_fk_check(child, parent, keys, sample=5):
            return {
                "child_rows": 2_500_000,
                "orphan_rows": 1,
                "orphan_frac": 0.0,  # round(4e-7, 6)
                "sample": [],
            }

        monkeypatch.setattr(profiling, "fk_check", fake_fk_check)
        rc = cli.main(["fk", child_p, parent_p, "--key", "fk=pk"])
        assert rc == 1
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["orphanFrac"] == 0.0  # display stays rounded


class TestDauCli:
    def test_rolling_curve(self, spark, tmp_path, capsys):
        import datetime as dt

        p = str(tmp_path / "ev")
        rows = [
            (1, dt.datetime(2024, 1, 1), "a", "click", 1.0),
            (2, dt.datetime(2024, 1, 3), "b", "click", 1.0),
        ]
        spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id string,"
            " event_type string, value double",
        ).write.parquet(p)
        rc = cli.main(["dau", p, "--window-days", "7"])
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        days = {d["day"]: d for d in out["days"]}
        assert days["2024-01-01"]["wau"] == 1
        assert days["2024-01-03"]["dau"] == 1
        assert days["2024-01-03"]["wau"] == 2


class TestUnimaxCli:
    def test_allocation(self, spark, tmp_path, capsys):
        p = str(tmp_path / "docs")
        spark.createDataFrame(
            [("en", "one two three four"), ("fr", "un deux")],
            "lang string, text string",
        ).write.parquet(p)
        rc = cli.main(
            ["unimax", p, "--budget-tokens", "100", "--max-epochs", "2"]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        langs = {d["lang"]: d for d in out["languages"]}
        # both caps (8, 4) fit the budget: fully funded at 2 epochs
        assert langs["en"]["allocTokens"] == 8
        assert langs["fr"]["allocTokens"] == 4
        assert langs["fr"]["epochsUsed"] == 2.0


class TestPsiCli:
    def test_gate_and_report(self, spark, tmp_path, capsys):
        import datetime as dt

        p = str(tmp_path / "psi_ev")
        # side A all low values, side B all high: maximal drift
        rows = [
            (i, dt.datetime(2024, 1, 1), "u", "click", 5.0)
            for i in range(20)
        ] + [
            (100 + i, dt.datetime(2024, 2, 1), "u", "click", 95.0)
            for i in range(20)
        ]
        spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id string,"
            " event_type string, value double",
        ).write.parquet(p)
        rc = cli.main(
            ["psi", p, "--cut", "2024-01-16", "--bins", "10",
             "--lo", "0", "--hi", "100", "--max-psi", "0.25"]
        )
        assert rc == 1  # drifted past the gate
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["totalPsi"] > 0.25
        assert len(out["bins"]) == 10
        bins = {b["bin"]: b for b in out["bins"]}
        assert bins[0]["aCnt"] == 20 and bins[9]["bCnt"] == 20
        # identical gate but permissive threshold passes
        rc = cli.main(
            ["psi", p, "--cut", "2024-01-16", "--bins", "10",
             "--lo", "0", "--hi", "100"]
        )
        assert rc == 0
        capsys.readouterr()


class TestBurstCli:
    def test_top_ranking(self, spark, tmp_path, capsys):
        import datetime as dt

        p = str(tmp_path / "burst_ev")
        base = dt.datetime(2024, 1, 1)
        rows = [
            (i, base + dt.timedelta(seconds=s), "metro", "a", 1.0)
            for i, s in enumerate([0, 10, 20, 30])
        ] + [
            (10 + i, base + dt.timedelta(seconds=s), "burst", "a", 1.0)
            for i, s in enumerate([0, 1, 2, 102])
        ]
        spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id string,"
            " event_type string, value double",
        ).write.parquet(p)
        rc = cli.main(["burst", p, "--top", "1"])
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert len(out["top"]) == 1
        assert out["top"][0]["user"] == "burst"  # highest B first
        assert out["top"][0]["burstiness"] > 0


class TestDauKmvCli:
    def test_kmv_flag(self, spark, tmp_path, capsys):
        import datetime as dt

        p = str(tmp_path / "kmv_ev")
        rows = [
            (i, dt.datetime(2024, 1, 1), f"u{i}", "click", 1.0)
            for i in range(6)
        ]
        spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id string,"
            " event_type string, value double",
        ).write.parquet(p)
        rc = cli.main(["dau", p, "--kmv", "4"])
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["days"][0]["kUsed"] == 4  # sketch capped
        assert out["days"][0]["estDau"] > 0


class TestDeconRateCli:
    def test_signoff_gate(self, spark, tmp_path, capsys):
        train_p = str(tmp_path / "train_docs")
        bench_p = str(tmp_path / "bench_docs")
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog")],
            ["doc_id", "text"],
        ).write.parquet(train_p)
        spark.createDataFrame(
            [
                (100, "the quick brown fox jumps high", "s1"),
                (101, "nothing matching in this sentence at all", "s1"),
            ],
            ["doc_id", "text", "suite"],
        ).write.parquet(bench_p)
        rc = cli.main(
            ["decon-rate", train_p, bench_p, "--max-rate", "0.4"]
        )
        assert rc == 1  # s1 rate 0.5 > 0.4
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["suites"][0]["rate"] == 0.5
        rc = cli.main(
            ["decon-rate", train_p, bench_p, "--max-rate", "0.6"]
        )
        assert rc == 0
        capsys.readouterr()
