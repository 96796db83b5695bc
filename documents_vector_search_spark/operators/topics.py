"""Topic profiling over an embedded corpus — cluster-based data
selection's reporting view.

No reference analog (shnax0210/documents-vector-search has no corpus
analytics); the capability follows the cluster-based curation
literature the rest of the dedup family already draws on (SemDeDup's
KMeans buckets, DoReMi-style domain discovery): assign every vector
its nearest learned centroid ("topic"), then profile the corpus by
topic — how big each topic is, how tight it is (mean distance to its
centroid), and which ground-truth label dominates it. A training-data
pipeline reads this table to decide mixing weights and spot collapsed
or junk clusters before committing a 100 TB sampling pass.

Scale design: assignment is the SAME map-only rounded-argmin Column
expression the IVF family uses (operators/ivf.py::assign_cluster_auto
— expression form under 64 centroids so the whole scan stays in
whole-stage codegen, Arrow-batched numpy twin above). The profile then
aggregates on `topic_id` — ONE shuffle keyed by at most `nlist`
values, partial-aggregated map-side, so the reduce moves O(nlist)
rows, not O(corpus). The `share` and top-label windows run on the
already-aggregated ≤nlist-row frame — driver-scale, not data-scale.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from documents_vector_search_spark.functions.vectors import l2_distance
from documents_vector_search_spark.operators.ivf import assign_cluster_auto


def fit_topic_centroids(
    emb: DataFrame,
    nlist: int,
    vec_col: str = "vector",
    sample_rows: int | None = None,
) -> list[list[float]]:
    """Rounded KMeans(nlist) topic centroids from a bounded
    deterministic sample (the IVF fit, operators/ivf.py::fit_ivf) —
    what the ``topics`` command records and ``refit-topics`` compares."""
    from documents_vector_search_spark.operators.ivf import (
        fit_ivf,
        round_centroids,
    )

    return round_centroids(
        fit_ivf(
            emb, nlist=nlist, vector_col=vec_col, sample_rows=sample_rows
        ).centroids
    )


def assigned_topics(
    emb: DataFrame,
    centroids: Sequence[Sequence[float]],
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Input columns + ``topic_id`` (nearest centroid, rounded-distance
    argmin, ties to the lower id) + ``topic_dist`` (rounded distance to
    the ASSIGNED centroid). Map-only; one pass."""
    v = F.col(vec_col).cast("array<double>")
    cmat = F.lit([[float(x) for x in c] for c in centroids])
    out = emb.withColumn(
        "topic_id", assign_cluster_auto(v, centroids, round_to)
    )
    # distance only to the one assigned centroid — cheaper than carrying
    # the full struct array out of the argmin, and exactly the oracle's
    # formulation (assign first, then measure)
    return out.withColumn(
        "topic_dist",
        F.round(
            l2_distance(v, F.element_at(cmat, F.col("topic_id") + F.lit(1))),
            round_to,
        ),
    )


def topic_profile(
    emb: DataFrame,
    centroids: Sequence[Sequence[float]],
    vec_col: str = "embedding",
    label_col: str | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Per-topic corpus profile: ``(topic_id, n_docs, share, avg_dist
    [, top_label])`` ordered by topic id.

    ``share`` is the topic's fraction of the corpus; ``avg_dist`` the
    mean (rounded) distance to the topic centroid — a tightness /
    junk-cluster signal; ``top_label`` (when ``label_col`` is given)
    the modal label, ties to the lower label value.
    """
    a = assigned_topics(emb, centroids, vec_col, round_to)
    stats = a.groupBy("topic_id").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("topic_dist"), round_to).alias("avg_dist"),
    )
    # ≤ nlist rows from here on: the unpartitioned window is a
    # deliberate single-partition exchange of a driver-scale frame
    stats = stats.withColumn(
        "share",
        F.round(F.col("n_docs") / F.sum("n_docs").over(Window.partitionBy()), round_to),
    )
    cols = ["topic_id", "n_docs", "share", "avg_dist"]
    if label_col is not None:
        stats = _with_top_label(a, stats, label_col)
        cols.append("top_label")
    return stats.select(*cols).orderBy("topic_id")


def _with_top_label(a: DataFrame, stats: DataFrame, label_col: str) -> DataFrame:
    """Join the modal label per topic onto ``stats`` (ties to the lower
    label value). One shuffle keyed (topic, label); the rank window runs
    on the aggregated frame."""
    lw = Window.partitionBy("topic_id").orderBy(
        F.col("_n").desc(), F.col(label_col).asc()
    )
    top = (
        a.groupBy("topic_id", label_col)
        .agg(F.count("*").alias("_n"))
        .withColumn("_rn", F.row_number().over(lw))
        .filter(F.col("_rn") == 1)
        .select("topic_id", F.col(label_col).alias("top_label"))
    )
    return stats.join(top, "topic_id")


def topic_terms(
    docs: DataFrame,
    emb: DataFrame,
    centroids: Sequence[Sequence[float]],
    k: int = 5,
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    round_to: int = 6,
    materialize: bool = True,
) -> DataFrame:
    """Per-topic distinctive terms — the topic-LABELING step: ``(
    topic_id, rank, term, tfidf)``, top ``k`` terms per topic by
    document-frequency tf-idf (``df_topic * ln(N / df_corpus)``), rank
    0-based, ties to the lexicographically lower term on the ROUNDED
    score (the suite's round-before-order convention).

    A corpus-wide term (df_corpus == N) scores ln(1) = 0, so stopwords
    self-suppress without a stopword list.

    Scale: the explode of per-doc DISTINCT terms is the same postings
    build the BM25 indexer runs (operators/bm25.py), localCheckpointed
    once so both document-frequency consumers read it without
    recomputing the scan+tokenize+assign (``materialize=False`` opts
    out for plan-only inspection); the aggregates are partial-aggregated
    shuffles keyed by term strings; N travels as a one-row broadcast
    (the bm25.py stats idiom); the top-k window runs over (topic, term)
    AGGREGATES — vocabulary-scale, not corpus-scale."""
    from documents_vector_search_spark.functions.text import tokenize

    a = assigned_topics(emb, centroids, vec_col=vec_col, round_to=round_to).select(
        F.col(vec_id_col).alias(doc_id_col), "topic_id"
    )
    joined = docs.join(a, doc_id_col)
    terms = joined.select(
        doc_id_col,
        "topic_id",
        F.explode(F.array_distinct(tokenize(text_col))).alias("term"),
    )
    # the scan → tokenize → assign explode is the dominant map cost and
    # feeds BOTH document-frequency aggregates — localCheckpoint it once
    # (the repeated_span_report idiom) so neither consumer recomputes it;
    # rows are (id, int, short term), a fraction of corpus text size
    if materialize:
        terms = terms.localCheckpoint()
    # N = docs actually profiled (the joined base, in case some docs
    # lack embeddings — zero-token docs appear here but not in `terms`);
    # this evaluation of `joined` is a column-pruned id-only hash join,
    # not a re-tokenize
    n_row = joined.agg(F.count("*").cast("double").alias("_n"))
    tt = terms.groupBy("topic_id", "term").agg(F.count("*").alias("df_topic"))
    ta = terms.groupBy("term").agg(F.count("*").alias("df_all"))
    scored = (
        tt.join(ta, "term")
        .crossJoin(F.broadcast(n_row))
        .withColumn(
            "tfidf",
            F.round(
                F.col("df_topic") * F.log(F.col("_n") / F.col("df_all")),
                round_to,
            ),
        )
    )
    w = Window.partitionBy("topic_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w) - 1)
        .filter(F.col("rank") < k)
        .select("topic_id", "rank", "term", "tfidf")
        .orderBy("topic_id", "rank")
    )
