"""Collection integrity scan (collection/doctor.py + CLI doctor)."""

from __future__ import annotations

import json
import shutil

import pytest
from pyspark.sql import functions as F

from documents_vector_search_spark import cli
from documents_vector_search_spark.collection import (
    Collection,
    create_collection,
)
from documents_vector_search_spark.collection.doctor import doctor_report


def _docs(spark):
    return spark.createDataFrame(
        [
            (f"d{i}", f"doc://{i}", {"lang": "en"},
             f"title {i}\n\nbody words {i} alpha beta",
             "2024-03-01 00:00:00", "s")
            for i in range(8)
        ],
        "id string, url string, metadata map<string,string>, text string, "
        "last_modified_at string, source_type string",
    ).withColumn("last_modified_at", F.col("last_modified_at").cast("timestamp"))


@pytest.fixture(scope="module")
def pristine(spark, tmp_path_factory):
    """One healthy collection; each test damages its own copy."""
    coll = Collection(spark, str(tmp_path_factory.mktemp("doctor")), "dok")
    create_collection(coll, _docs(spark), title_from_text=True)
    return coll


def _copy(spark, src, tmp_path, name):
    shutil.copytree(src.root, tmp_path / name)
    return Collection(spark, str(tmp_path), name)


class TestDoctor:
    def test_healthy_collection_passes_all_checks(self, spark, pristine):
        report = doctor_report(pristine, deep=True)
        assert report["issues"] == [] and report["ok"]
        assert report["checks"] >= 10

    def test_detects_count_drift_and_staging_leftover(
        self, spark, pristine, tmp_path
    ):
        coll = _copy(spark, pristine, tmp_path, "drift")
        m = coll.manifest()
        m.numberOfDocuments += 3  # simulate a convergence failure
        coll.save_manifest(m)
        (coll.root / "chunks__tmp").mkdir()  # orphaned staging dir

        report = doctor_report(coll)
        codes = {i["code"] for i in report["issues"]}
        assert not report["ok"]
        assert "doc_count_drift" in codes
        assert "staging_leftover" in codes

        # an outdated format is reported as the one gate refusal
        old = _copy(spark, pristine, tmp_path, "nofieldstats")
        m = old.manifest()
        m.fieldStats = None
        old.save_manifest(m)
        report = doctor_report(old)
        assert not report["ok"]
        assert [i["code"] for i in report["issues"]] == ["outdated_format"]
        assert "fieldStats" in report["issues"][0]["detail"]
        assert "re-create the collection" in report["issues"][0]["detail"]

    def test_deep_finds_orphan_derived_rows(self, spark, pristine, tmp_path):
        """Dropping one chunks partition dir leaves its embeddings and
        postings rows pointing at no live chunk — the embeddings count
        invariant and the deep referential scan must both flag it, the
        latter for both tables."""
        coll = _copy(spark, pristine, tmp_path, "orfan")
        pb_dirs = sorted((coll.root / "chunks").glob("_pb=*"))
        assert pb_dirs
        shutil.rmtree(pb_dirs[0])

        report = doctor_report(coll, deep=True)
        codes = {i["code"] for i in report["issues"]}
        assert not report["ok"]
        assert "derived_count_mismatch" in codes
        orphaned = {
            i["detail"].split(":")[0]
            for i in report["issues"]
            if i["code"] == "orphan_derived_rows"
        }
        assert orphaned == {"embeddings", "postings"}

    def test_cli_exit_codes(self, spark, pristine, tmp_path, capsys):
        coll = _copy(spark, pristine, tmp_path, "dokcli")
        rc = cli.main(
            ["doctor", "dokcli", "--base-path", str(tmp_path),
             "--format", "json"]
        )
        assert rc == 0
        assert json.loads(capsys.readouterr().out)["ok"] is True

        m = coll.manifest()
        m.numberOfChunks += 1
        coll.save_manifest(m)
        rc = cli.main(
            ["doctor", "dokcli", "--base-path", str(tmp_path),
             "--format", "json"]
        )
        assert rc == 1
        rep = json.loads(capsys.readouterr().out)
        assert {i["code"] for i in rep["issues"]} == {"chunk_count_drift"}
