from __future__ import annotations

import os
import shutil
import sys
import tempfile
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

SF_SMOKE = "/root/testdata/sf0.001"

# Redirect registry asset writes to a tmp COPY of the committed seeds:
# several registry queries persist their fitted parameters (centroids /
# codebooks / probe weights / expected chunks) to the assets dir for
# their DuckDB oracles, and tests run them at the smoke sf — without
# the redirect every pytest run would rewrite the committed sf0.01
# seeds in the working tree. Copying (not empty-dir) keeps the
# cold-bind guarantee testable: oracles must parse against the seeds
# BEFORE any Spark query runs. Must happen before registry import,
# hence at conftest import time.
if "DVSS_ASSETS_DIR" not in os.environ:
    _assets_tmp = tempfile.mkdtemp(prefix="dvss_test_assets_")
    _committed = REPO_ROOT / "documents_vector_search_spark" / "assets"
    if _committed.exists():
        for f in _committed.iterdir():
            if f.is_file():
                shutil.copy2(f, _assets_tmp)
    os.environ["DVSS_ASSETS_DIR"] = _assets_tmp


@pytest.fixture(scope="session")
def spark():
    from documents_vector_search_spark.session import get_spark

    spark = get_spark(app_name="dvss-tests", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def docs_df(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


@pytest.fixture(scope="session")
def embeddings_df(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


@pytest.fixture()
def tiny_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "spark hash join and sort merge join strategies"),
        (4, "completely unrelated words about cooking pasta"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.fixture(scope="module")
def canonical_docs(spark):
    """100 smoke-corpus documents in the canonical document envelope."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    return docs.limit(100).select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("id"),
        F.concat(F.lit("file:///corpus/"), F.col("doc_id")).alias("url"),
        F.create_map(
            F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
        ).alias("metadata"),
        F.col("text"),
        F.lit("2024-03-01 00:00:00").cast("timestamp").alias("last_modified_at"),
        F.lit("localFiles").alias("source_type"),
    )


@pytest.fixture(scope="module")
def small_fuzzy_coll(spark, canonical_docs, tmp_path_factory):
    """Pristine 8-document collection with fuzzy artifacts; tests copy
    its directory instead of paying a create each. Small on purpose:
    every update/delete rewrites its buckets' directories in every
    table and the fuzzy artifacts, and those per-operation jobs (not
    the row count) set the cost of each merge."""
    from documents_vector_search_spark.collection import (
        Collection,
        create_collection,
    )

    base = str(tmp_path_factory.mktemp("pristine"))
    coll = Collection(spark, base, "pristine")
    create_collection(
        coll, canonical_docs.limit(8), chunk_size=200, chunk_overlap=40,
        fuzzy_dictionary=True,
    )
    return coll
