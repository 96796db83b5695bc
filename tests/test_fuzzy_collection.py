"""Fuzzy dictionary + deletion index as collection artifacts:
create-time build, bucket-pruned probe, incremental maintenance
through update and delete (differential against recompute), and the
refit-fuzzy recovery/enable path."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from documents_vector_search_spark import cli
from documents_vector_search_spark.collection import (
    Collection,
    CollectionSearcher,
    create_collection,
    update_collection,
)
from documents_vector_search_spark.collection.updater import delete_documents
from documents_vector_search_spark.operators.bm25 import build_postings
from documents_vector_search_spark.operators.fuzzy import build_term_dictionary


def _docs(spark, rows, ts="2024-03-01 00:00:00"):
    return spark.createDataFrame(
        [
            (rid, f"file:///p/{rid}", {"lang": "en"}, text, ts, "localFiles")
            for rid, text in rows
        ],
        "id string, url string, metadata map<string,string>, text string, "
        "last_modified_at string, source_type string",
    ).withColumn("last_modified_at", F.col("last_modified_at").cast("timestamp"))


def _vocab_matches_recompute(coll):
    from documents_vector_search_spark.collection.fuzzy_artifacts import (
        read_vocab,
    )

    stored = {
        (r["term"], r["ctf"], r["df"])
        for r in read_vocab(coll).collect()
    }
    recomputed = {
        (r["term"], r["ctf"], r["df"])
        for r in build_term_dictionary(
            coll.read("postings").select("chunk_id", "term", "tf")
        ).collect()
    }
    assert stored == recomputed, (
        f"stale-only={sorted(stored - recomputed)[:5]} "
        f"missing={sorted(recomputed - stored)[:5]}"
    )


def _copy(spark, src, tmp_path, name):
    import shutil

    shutil.copytree(src.root, tmp_path / name)
    return Collection(spark, str(tmp_path), name)


@pytest.fixture(scope="module")
def pristine_fz(spark, tmp_path_factory):
    coll = Collection(spark, str(tmp_path_factory.mktemp("fz")), "fz")
    docs = _docs(
        spark,
        [
            ("d1", "the shuffle broadcast join wins"),
            ("d2", "salting fixes skew in the shuffle"),
        ],
    )
    create_collection(
        coll, docs, chunk_size=200, chunk_overlap=0, fuzzy_dictionary=True
    )
    return coll


@pytest.fixture()
def fuzzy_coll(spark, pristine_fz, tmp_path):
    """A fresh copy of the pristine collection per test."""
    return _copy(spark, pristine_fz, tmp_path, "fz")


@pytest.fixture(scope="module")
def pristine_abgd(spark, tmp_path_factory):
    """Two-document fuzzy collection the delta-log tests start from;
    each test copies it instead of paying a create."""
    coll = Collection(spark, str(tmp_path_factory.mktemp("abgd")), "abgd")
    create_collection(
        coll,
        _docs(spark, [("d1", "alpha beta gamma"), ("d2", "beta delta")]),
        chunk_size=200,
        chunk_overlap=0,
        fuzzy_dictionary=True,
    )
    return coll


class TestFuzzyArtifacts:
    def test_create_builds_tables_and_manifest(self, fuzzy_coll):
        assert fuzzy_coll.manifest().converter["fuzzy"] == {
            "maxEdits": 1,
            "variantBuckets": 64,
            "compactAfter": 8,
        }
        didx = fuzzy_coll.read("deletion_index")
        assert {"term", "ctf", "df", "variant", "variant_bucket"} <= set(
            didx.columns
        )
        _vocab_matches_recompute(fuzzy_coll)

    def test_suggest_probes_pruned_artifact(self, fuzzy_coll):
        s = CollectionSearcher(fuzzy_coll)
        df = s.suggest("shufle brodcast")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [variant_bucket" in plan
        # the probe reads the artifact, never the postings (toString
        # truncates Location paths, so check the actual input files)
        files = df.inputFiles()
        assert files and all("/deletion_index/" in f for f in files)
        got = {r["qraw"]: r["suggestion"] for r in df.collect()}
        assert got == {"shufle": "shuffle", "brodcast": "broadcast"}

    def test_update_maintains_dictionary_incrementally(self, spark, fuzzy_coll):
        fresh = _docs(
            spark,
            [("d3", "a zebrafish appears"), ("d1", "the join wins again")],
            ts="2024-03-02 00:00:00",
        )
        update_collection(fuzzy_coll, fresh)
        _vocab_matches_recompute(fuzzy_coll)
        s = CollectionSearcher(fuzzy_coll)
        got = {r["qraw"]: r["suggestion"] for r in s.suggest("zebrafis").collect()}
        assert got == {"zebrafis": "zebrafish"}
        # d1's replaced text dropped 'broadcast' from the corpus — the
        # fold tombstones it (base row + negative delta nets to 0)
        from documents_vector_search_spark.collection.fuzzy_artifacts import (
            read_vocab,
        )

        vocab_terms = {r["term"] for r in read_vocab(fuzzy_coll).collect()}
        assert "broadcast" not in vocab_terms

    def test_delete_maintains_dictionary(self, spark, fuzzy_coll):
        from documents_vector_search_spark.collection.fuzzy_artifacts import (
            read_vocab,
        )

        delete_documents(fuzzy_coll, ["d2"])
        _vocab_matches_recompute(fuzzy_coll)
        vocab_terms = {r["term"] for r in read_vocab(fuzzy_coll).collect()}
        assert "salting" not in vocab_terms and "join" in vocab_terms

    def test_refit_fuzzy_enables_on_plain_collection(
        self, spark, tmp_path, capsys
    ):
        coll = Collection(spark, str(tmp_path), "plainfz")
        create_collection(
            coll,
            _docs(spark, [("d1", "broadcast hash join")]),
            chunk_size=200,
            chunk_overlap=0,
        )
        rc = cli.main(
            ["refit-fuzzy", "plainfz", "--base-path", str(tmp_path),
             "--format", "json"]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["fuzzy"]["maxEdits"] == 1
        s = CollectionSearcher(coll)
        got = {r["qraw"]: r["suggestion"] for r in s.suggest("brodcast").collect()}
        assert got == {"brodcast": "broadcast"}

    def test_complete_command_uses_vocab_artifact(
        self, spark, fuzzy_coll, capsys
    ):
        rc = cli.main(
            ["complete", "fz", "s", "--base-path",
             str(fuzzy_coll.root.parent), "--format", "json"]
        )
        assert rc == 0
        rows = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        terms = [r["term"] for r in rows]
        assert terms and all(t.startswith("s") for t in terms)
        assert "shuffle" in terms

    def test_complete_falls_back_without_artifact(
        self, spark, tmp_path, capsys
    ):
        coll = Collection(spark, str(tmp_path), "plainc")
        create_collection(
            coll,
            _docs(spark, [("d1", "scan scatter gather")]),
            chunk_size=200,
            chunk_overlap=0,
        )
        rc = cli.main(
            ["complete", "plainc", "sc", "--base-path", str(tmp_path),
             "--format", "json"]
        )
        assert rc == 0
        rows = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert {r["term"] for r in rows} == {"scan", "scatter"}

    def test_update_appends_delta_and_leaves_base_immutable(
        self, spark, tmp_path
    ):
        """The delta-log maintenance contract: an update writes ONE new
        batch partition to each delta log and touches NOTHING else —
        every base file of the vocab and deletion index survives
        byte-identical with its mtime untouched. The folded view must
        still equal a full rebuild."""
        from pathlib import Path

        from documents_vector_search_spark.collection.fuzzy_artifacts import (
            deletion_index_df,
            read_deletion_index,
        )

        coll = Collection(spark, str(tmp_path), "bucketfz")
        docs = _docs(
            spark,
            [
                (f"d{i}", " ".join(f"term{i}w{j}" for j in range(12)))
                for i in range(20)
            ],
        )
        create_collection(
            coll, docs, chunk_size=400, chunk_overlap=0, fuzzy_dictionary=True
        )

        def snapshot(table):
            root = Path(coll.table_path(table))
            return {
                str(p.relative_to(root)): (p.stat().st_mtime_ns, p.read_bytes())
                for p in root.rglob("*")
                if p.is_file()
            }

        before_didx = snapshot("deletion_index")
        before_vocab = snapshot("vocab")

        fresh = _docs(
            spark,
            [("d0", "zebrafish holograph")],  # replaces d0's 12 terms
            ts="2024-03-02 00:00:00",
        )
        update_collection(coll, fresh)

        # base tables are IMMUTABLE between compactions
        assert snapshot("deletion_index") == before_didx
        assert snapshot("vocab") == before_vocab
        # ... and exactly one batch landed in each delta log
        assert [d.name for d in sorted(
            Path(coll.table_path("vocab_deltas")).glob("batch=*")
        )] == ["batch=1"]
        assert [d.name for d in sorted(
            Path(coll.table_path("deletion_index_deltas")).glob("batch=*")
        )] == ["batch=1"]
        # the delta is O(changed terms), not vocabulary-sized: d0's 12
        # dropped terms + 2 added = 14 vocab delta rows
        assert spark.read.parquet(
            str(Path(coll.table_path("vocab_deltas")) / "batch=1")
        ).count() == 14

        # folded artifacts == full rebuild (vocab AND deletion index)
        _vocab_matches_recompute(coll)
        maintained = {
            (r["term"], r["ctf"], r["df"], r["variant"], r["variant_bucket"])
            for r in read_deletion_index(coll).collect()
        }
        rebuilt = {
            (r["term"], r["ctf"], r["df"], r["variant"], r["variant_bucket"])
            for r in deletion_index_df(
                build_term_dictionary(
                    coll.read("postings").select("chunk_id", "term", "tf")
                )
            ).collect()
        }
        assert maintained == rebuilt

    def test_compaction_folds_deltas_into_base(
        self, spark, pristine_abgd, tmp_path
    ):
        """After compactAfter batches the delta log folds into a fresh
        base: batch dirs retired, the sidecar records the high-water
        batch id, and the folded view still equals a full rebuild.
        Suggestions stay correct across the fold."""
        from pathlib import Path

        coll = _copy(spark, pristine_abgd, tmp_path, "compactfz")
        manifest = coll.manifest()
        manifest.converter["fuzzy"]["compactAfter"] = 2
        coll.save_manifest(manifest)

        update_collection(
            coll, _docs(spark, [("d3", "epsilon zeta")], ts="2024-03-02 00:00:00")
        )
        assert [d.name for d in sorted(
            Path(coll.table_path("vocab_deltas")).glob("batch=*")
        )] == ["batch=1"]
        # second batch reaches the threshold → compaction
        update_collection(
            coll, _docs(spark, [("d1", "alpha omega")], ts="2024-03-03 00:00:00")
        )
        assert not list(
            Path(coll.table_path("vocab_deltas")).glob("batch=*")
        )
        assert not list(
            Path(coll.table_path("deletion_index_deltas")).glob("batch=*")
        )
        import json as _json

        state = _json.loads(
            (Path(coll.table_path("vocab")) / "_delta_state.json").read_text()
        )
        assert state["compactedThrough"] == 2
        _vocab_matches_recompute(coll)
        s = CollectionSearcher(coll)
        got = {r["qraw"]: r["suggestion"] for r in s.suggest("omeg epsilo").collect()}
        assert got == {"omeg": "omega", "epsilo": "epsilon"}
        # the next batch id continues past the compaction high-water mark
        update_collection(
            coll, _docs(spark, [("d4", "theta iota")], ts="2024-03-04 00:00:00")
        )
        assert [d.name for d in sorted(
            Path(coll.table_path("vocab_deltas")).glob("batch=*")
        )] == ["batch=3"]
        _vocab_matches_recompute(coll)

    def test_crash_between_vocab_swap_phases_recovers(
        self, spark, pristine_abgd, tmp_path
    ):
        """Simulate a crash mid-staged-swap of the vocab table (final
        dir renamed away, __old parked, __tmp still present): the next
        update's orphan sweep must restore the parked table, and the
        update must then converge to stored == recomputed."""
        import shutil
        from pathlib import Path

        coll = _copy(spark, pristine_abgd, tmp_path, "crashfz")
        vocab_dir = Path(coll.table_path("vocab"))
        old_dir = Path(coll.table_path("vocab__old"))
        tmp_dir = Path(coll.table_path("vocab__tmp"))
        # crash state: final renamed to __old, staged __tmp half-written
        vocab_dir.rename(old_dir)
        tmp_dir.mkdir()
        (tmp_dir / "_half_written").write_text("junk")
        fresh = _docs(
            spark, [("d3", "epsilon beta")], ts="2024-03-02 00:00:00"
        )
        update_collection(coll, fresh)
        _vocab_matches_recompute(coll)
        assert not old_dir.exists() and not tmp_dir.exists()

    def test_crash_between_publish_renames_keeps_probes_consistent(
        self, spark, pristine_abgd, tmp_path, monkeypatch
    ):
        """Inject a crash BETWEEN the two adjacent batch-publish renames
        (deletion index published, vocab not): the vocab rename is the
        commit point, so both probes must keep serving the SAME
        committed (pre-update) state — the orphaned deletion-index
        batch stays invisible — and a forced compaction (refit-fuzzy)
        reconciles both with the postings truth and GCs the orphan."""
        from pathlib import Path

        from documents_vector_search_spark.collection import fuzzy_artifacts as fa

        coll = _copy(spark, pristine_abgd, tmp_path, "crashpub")
        before_vocab = sorted(
            (r["term"], r["ctf"], r["df"])
            for r in fa.read_vocab(coll).collect()
        )
        before_didx = sorted(
            (r["term"], r["variant"], r["ctf"])
            for r in fa.read_deletion_index(coll).collect()
        )

        real_publish = fa._publish_batch

        def crash_on_vocab(collection, deltas_table, batch_id, tmp):
            if deltas_table == fa.VOCAB_DELTAS_TABLE:
                raise RuntimeError("injected crash between renames")
            real_publish(collection, deltas_table, batch_id, tmp)

        monkeypatch.setattr(fa, "_publish_batch", crash_on_vocab)
        with pytest.raises(RuntimeError, match="injected"):
            update_collection(
                coll,
                _docs(spark, [("d3", "epsilon beta")], ts="2024-03-02 00:00:00"),
            )
        monkeypatch.setattr(fa, "_publish_batch", real_publish)

        # the orphan IS on disk, but invisible to both probes
        didx_batches = sorted(
            Path(coll.table_path(fa.DELETION_INDEX_DELTAS_TABLE)).glob("batch=*")
        )
        assert len(didx_batches) == 1
        assert not list(
            Path(coll.table_path(fa.VOCAB_DELTAS_TABLE)).glob("batch=*")
        )
        assert sorted(
            (r["term"], r["ctf"], r["df"])
            for r in fa.read_vocab(coll).collect()
        ) == before_vocab
        assert sorted(
            (r["term"], r["variant"], r["ctf"])
            for r in fa.read_deletion_index(coll).collect()
        ) == before_didx

        # recovery: compaction rebuilds from postings, orphan GC'd
        fa.compact_fuzzy_artifacts(coll)
        _vocab_matches_recompute(coll)
        assert not list(
            Path(coll.table_path(fa.DELETION_INDEX_DELTAS_TABLE)).glob("batch=*")
        )

    def test_unchanged_rerun_is_idempotent(self, spark, tmp_path):
        """Re-sending the same batch (the watermark-overlap case) must
        leave the dictionary exactly as one application would —
        delete-then-reinsert makes the postings merge idempotent, and
        the vocabulary delta of the second run nets to zero."""
        coll = Collection(spark, str(tmp_path), "idemfz")
        create_collection(
            coll,
            _docs(spark, [("d1", "alpha beta"), ("d2", "beta gamma")]),
            chunk_size=200,
            chunk_overlap=0,
            fuzzy_dictionary=True,
        )
        from documents_vector_search_spark.collection.fuzzy_artifacts import (
            read_vocab,
        )

        batch = _docs(
            spark, [("d1", "alpha delta delta")], ts="2024-03-02 00:00:00"
        )
        update_collection(coll, batch)
        after_one = sorted(
            (r["term"], r["ctf"], r["df"])
            for r in read_vocab(coll).collect()
        )
        update_collection(coll, batch)  # unchanged re-send: the second
        # delta nets to zero, so NO new batch dir may appear
        after_two = sorted(
            (r["term"], r["ctf"], r["df"])
            for r in read_vocab(coll).collect()
        )
        from pathlib import Path

        assert [d.name for d in sorted(
            Path(coll.table_path("vocab_deltas")).glob("batch=*")
        )] == ["batch=1"]
        assert after_one == after_two
        _vocab_matches_recompute(coll)
        assert ("beta", 1, 1) in after_two      # d1's beta gone, d2's stays
        assert ("delta", 2, 1) in after_two
