"""Bucket-scoped compaction (collection/compactor.py): fragmented
update buckets (split by hand into the several files per directory an
older version left) collapse to one file per partition directory;
untouched buckets stay bit-identical; results are unchanged."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from documents_vector_search_spark.collection import (
    Collection,
    CollectionSearcher,
    compact_collection,
    create_collection,
    update_collection,
)
from documents_vector_search_spark.collection.compactor import (
    bucket_file_counts,
)
from documents_vector_search_spark.collection.partitioning import pb_dirs
from documents_vector_search_spark.functions.hashing import md5_hash64_py


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (
            f"doc-{i}",
            f"file:///corpus/doc-{i}.txt",
            {"lang": "en"},
            f"document {i} about broadcast hash join tuning " * 5,
            "2024-03-01 00:00:00",
            "files",
        )
        for i in range(30)
    ]
    return spark.createDataFrame(
        rows,
        "id STRING, url STRING, metadata MAP<STRING,STRING>, text STRING, "
        "last_modified_at STRING, source_type STRING",
    ).withColumn("last_modified_at", F.col("last_modified_at").cast("timestamp"))


def _split_bucket(root: Path, pb: int) -> int:
    """Rewrite every data file of update bucket ``pb`` under a table
    root as two files: the layout an older version's unclustered
    writes left (this version writes one file per directory). Returns
    the number of directories split."""
    import pyarrow.parquet as pq

    split = 0
    for d in pb_dirs(root, {pb}):
        for f in list(d.glob("*.parquet")):
            rows = pq.read_table(f)
            if rows.num_rows < 2:
                continue
            half = rows.num_rows // 2
            for i, part in enumerate((rows.slice(0, half), rows.slice(half))):
                pq.write_table(
                    part, d / f"frag-{i}-{f.name}",
                    use_deprecated_int96_timestamps=True,
                )
            f.unlink()
            split += 1
    return split


def _doc_pb(doc_id: str, n_buckets: int = 8) -> int:
    return md5_hash64_py(doc_id) % n_buckets


@pytest.fixture(scope="module")
def fragmented(spark, docs, tmp_path_factory):
    """Create, update the SAME doc three times, then split its bucket's
    chunks and documents files in two, as an older version left them."""
    base = str(tmp_path_factory.mktemp("compact"))
    coll = Collection(spark, base, "frag")
    create_collection(coll, docs, chunk_size=120, chunk_overlap=20)
    one = docs.filter(F.col("id") == "doc-3")
    for i in range(3):
        update_collection(
            coll, one.withColumn("text", F.concat(F.lit(f"v{i} "), "text"))
        )
    for t in ("chunks", "documents"):
        assert _split_bucket(Path(coll.table_path(t)), _doc_pb("doc-3"))
    return coll


def _inventory(root: Path) -> dict[str, tuple[int, float]]:
    return {
        str(p.relative_to(root)): (p.stat().st_size, p.stat().st_mtime)
        for p in root.rglob("*.parquet")
        if p.is_file()
    }


class TestCompaction:
    def test_compact_restores_one_file_per_dir(self, fragmented):
        chunks_root = Path(fragmented.table_path("chunks"))
        before = bucket_file_counts(chunks_root)
        assert any(c["max_per_dir"] > 1 for c in before.values()), (
            "fixture should be fragmented"
        )
        counts_before = fragmented.counts()
        untouched_before = {
            t: {
                k: v
                for k, v in _inventory(Path(fragmented.table_path(t))).items()
                if not any(
                    f"_pb={pb}/" in k or k.startswith(f"_pb={pb}")
                    for pb, c in bucket_file_counts(
                        Path(fragmented.table_path(t))
                    ).items()
                    if c["max_per_dir"] > 1
                )
            }
            for t in ("chunks", "documents")
        }

        report = compact_collection(fragmented)
        assert set(report) == {"chunks", "documents"}
        assert report["chunks"]["files_after"] < report["chunks"]["files_before"]

        after = bucket_file_counts(Path(fragmented.table_path("chunks")))
        assert all(c["max_per_dir"] == 1 for c in after.values())
        # row counts unchanged in every table
        assert fragmented.counts() == counts_before
        # files in non-fragmented buckets are bit-untouched
        for t, inv in untouched_before.items():
            now = _inventory(Path(fragmented.table_path(t)))
            for k, v in inv.items():
                assert now.get(k) == v, f"{t}/{k} was rewritten"

    def test_search_unchanged_after_compact(self, fragmented):
        s = CollectionSearcher(fragmented)
        got = s.search("broadcast hash join", max_documents=5).collect()
        assert len(got) > 0
        # doc-3 carries its LAST update's text (delete-then-reinsert)
        from documents_vector_search_spark.collection import (
            fetch_document_lines,
        )

        row = fetch_document_lines(fragmented, "doc-3", 1, 2)
        assert "v2 " in row["text_slice"]

    def test_second_compact_is_noop(self, fragmented):
        assert compact_collection(fragmented) == {}

    def test_compacts_layout_tables_preserving_pruning(
        self, spark, docs, tmp_path
    ):
        """ANN-layout embeddings carry bucket=*/_pb=* sibling levels:
        compaction must rewrite fragmented buckets one-file-per-dir
        while query-side partition pruning keeps working."""
        coll = Collection(spark, str(tmp_path), "annfrag")
        create_collection(
            coll, docs, chunk_size=120, chunk_overlap=20, ann_planes=2
        )
        emb_root = Path(coll.table_path("embeddings"))
        assert _split_bucket(emb_root, _doc_pb("doc-5"))
        report = compact_collection(coll)
        assert set(report) == {"embeddings"}
        assert all(
            c["max_per_dir"] == 1
            for c in bucket_file_counts(emb_root).values()
        )
        s = CollectionSearcher(coll)
        hits = s._vector_hits("broadcast join", 10, None)
        plan = hits._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "bucket" in plan
        assert len(hits.collect()) > 0

    def test_cli_compact_reports(self, fragmented, capsys):
        import json

        from documents_vector_search_spark import cli

        rc = cli.main(
            [
                "compact", "frag", "--base-path",
                str(Path(fragmented.root).parent), "--format", "json",
            ]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out)
        assert out == {"compacted": "nothing to do"}  # already compacted
