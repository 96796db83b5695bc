"""Exact k-nearest-neighbor search over an embeddings DataFrame.

Spark-first re-expression of the reference's vector top-k:
FAISS ``IndexIDMap(IndexFlatL2).search`` (main/indexes/indexers/
faiss_indexer.py:30-31) and Chroma filtered HNSW query
(main/indexes/indexers/chroma_indexer.py:52-73).

The "flat index" is simply the embeddings table; a query is a distance
expression + ``orderBy().limit(k)``, which Catalyst plans as
TakeOrderedAndProject: each partition keeps only its local top-k and the
driver merges k·num_partitions candidates — no global sort, no full
shuffle. With a metadata predicate the filter is pushed below the
distance computation into the Parquet scan (the reference's FAISS path
cannot filter at all, faiss_indexer.py:33-34).

Scale notes (100 TB):
- Brute force is embarrassingly parallel and reads each row once; the
  scan dominates. Column-prune to (id, vector) keeps I/O minimal.
- Ties broken on id so results are a documented total order
  (SURVEY §7.4 scoring-parity risk).
- For sub-linear search use operators/ann.py (LSH bucket pruning) —
  same API, probes a small fraction of partitions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from documents_vector_search_spark.functions.vectors import (
    cosine_similarity,
    l2_distance,
    lit_double_array,
    round_half_up,
    seq_fold_sum,
)


def _query_vector_lit(query_vector: Sequence[float]) -> Column:
    return lit_double_array(query_vector)


def knn_l2(
    embeddings: DataFrame,
    query_vector: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    predicate: Column | None = None,
    round_to: int | None = 6,
) -> DataFrame:
    """Exact L2 top-k: ``(id, distance)`` ascending, ties on id.

    ``round_to`` rounds the reported distance (not the ordering) for
    stable cross-engine comparison.
    """
    dist = l2_distance(F.col(vector_col).cast("array<double>"), _query_vector_lit(query_vector))
    if round_to is not None:
        # round BEFORE ordering: the (score, id) total order is then
        # reproducible by any engine regardless of last-ulp differences
        dist = F.round(dist, round_to)
    df = embeddings
    if predicate is not None:
        df = df.filter(predicate)
    scored = df.select(F.col(id_col), dist.alias("distance"))
    return scored.orderBy(F.col("distance").asc(), F.col(id_col).asc()).limit(k)


# sequential-fold squared-sum shared with the ivf/pq numpy twins — see
# functions/vectors.seq_fold_sum for why pairwise np.sum is not used
_seq_fold_sum = seq_fold_sum


def knn_l2_numpy(
    embeddings: DataFrame,
    query_vector: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    predicate: Column | None = None,
    round_to: int | None = 6,
) -> DataFrame:
    """Brute-force L2 top-k with a vectorized numpy scorer (Arrow batch →
    one matrix op) instead of the Column expression.

    Measured on local[32], 200k × 64-dim: expression 2.1s vs numpy 2.4s —
    Arrow transfer wipes out numpy's per-element win at narrow widths, so
    the expression form is the default. Prefer THIS variant for wide
    embeddings (≥ ~512 dims) where the per-element cost of the
    interpreted zip_with/aggregate expression dominates the transfer.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType

    q = np.asarray(list(map(float, query_vector)))

    # no type hints: `from __future__ import annotations` stringifies
    # them and pyspark's hint inference can't resolve locals
    @F.pandas_udf(DoubleType())
    def l2_batch(v):
        m = np.array(v.tolist(), dtype=np.float64)
        return pd.Series(np.sqrt(_seq_fold_sum((m - q) ** 2)))

    dist = l2_batch(F.col(vector_col))
    if round_to is not None:
        dist = F.round(dist, round_to)
    df = embeddings
    if predicate is not None:
        df = df.filter(predicate)
    scored = df.select(F.col(id_col), dist.alias("distance"))
    return scored.orderBy(F.col("distance").asc(), F.col(id_col).asc()).limit(k)


# Crossover where the vectorized numpy scorer overtakes the interpreted
# zip_with/aggregate expression chain: per-element expression cost grows
# with dim while Arrow transfer is ~flat per row. Measured in-container
# (local[32], 20k rows, warm): dim=256 expr 0.27s vs numpy 0.54s;
# dim=512 expr 0.46s vs numpy 0.35s — crossover ≈512. Same
# auto-dispatch idiom as sq_encode_auto / pq_encode_auto /
# assign_cluster_auto.
NUMPY_KNN_MIN_DIM = 512


def knn_l2_auto(
    embeddings: DataFrame,
    query_vector: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    predicate: Column | None = None,
    round_to: int | None = 6,
) -> DataFrame:
    """Pick the exact-kNN scorer by query dimension — expression
    (codegen, oracle-parity path) for narrow vectors, vectorized numpy
    for wide. Results are identical either way: the numpy scorer sums
    squared terms with the SAME sequential dimension fold as the
    expression (_seq_fold_sum — not numpy's pairwise sum, which could
    differ in the last ulp and flip a 0.5e-6 rounding boundary), and
    both round to ``round_to`` BEFORE the (distance, id) ordering
    (parity-pinned in tests), so serving layers can dispatch freely on
    the manifest's recorded dim."""
    fn = knn_l2_numpy if len(query_vector) >= NUMPY_KNN_MIN_DIM else knn_l2
    return fn(
        embeddings,
        query_vector,
        k,
        id_col=id_col,
        vector_col=vector_col,
        predicate=predicate,
        round_to=round_to,
    )


def _topk_schema(df: DataFrame, id_col: str):
    """``(qid, id, distance)`` — every batch kernel's candidate rows."""
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("qid", StringType()),
            StructField(id_col, df.schema[id_col].dataType),
            StructField("distance", DoubleType()),
        ]
    )


def _local_topk(qid: str, ids, d, k: int, id_col: str):
    """One query's batch-local top-k rows, (distance, id) ascending."""
    import numpy as np
    import pandas as pd

    order = np.lexsort((ids, d))[:k]
    return pd.DataFrame({"qid": qid, id_col: ids[order], "distance": d[order]})


def _finish_topk(candidates: DataFrame, k: int, id_col: str) -> DataFrame:
    """Global top-k per qid over the batch-local candidates: the global
    top-k is a subset of the union of batch top-ks, so one per-qid
    window over ≤ tasks × Q × k rows finishes the answer."""
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(
        F.col("distance").asc(), F.col(id_col).asc()
    )
    return (
        candidates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def knn_l2_batch(
    embeddings: DataFrame,
    queries: dict[str, Sequence[float]],
    k: int,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    round_to: int = 6,
    probes: dict[str, Sequence] | None = None,
    part_col: str | None = "cluster_id",
) -> DataFrame:
    """Exact L2 top-k for MANY queries in ONE corpus scan —
    ``(qid, id, distance)``, per-query ascending, ties on id.

    Running Q separate knn_l2 calls scans the corpus Q times; at 100 TB
    that is the difference between one pass and a hundred. Here the
    (tiny) query matrix ships to every task inside a mapInPandas
    closure; each Arrow batch computes all Q distance columns with one
    vectorized numpy op and emits only its BATCH-LOCAL top-k rows per
    query, so the shuffle carries ≤ tasks × Q × k candidate rows — never
    the corpus. A final per-qid window over the candidates yields the
    answer.

    ``probes`` (qid → ``part_col`` values: IVF cluster ids or LSH
    buckets) serves a PARTITION-PRUNED layout: the caller filters
    ``embeddings`` to the union of the probe sets (a partition-column
    isin → directory pruning, overlapping probes read once), and a
    per-batch mask scores each query only against its own probes. Per
    query the result is IDENTICAL to pruning for that query alone and
    running exact kNN over the survivors. Without ``probes`` every row
    is scored for every query.

    Determinism: distances are rounded to ``round_to`` BEFORE both the
    batch-local and the global (distance, id) ordering, so the
    composition is exact and the result oracle-reproducible; the numpy
    math is the direct (x - q)^2 form (not the matmul expansion) to
    stay in lock-step with the expression/SQL computation.
    """
    import numpy as np
    import pandas as pd

    qids = sorted(queries)
    qmat = np.asarray([[float(x) for x in queries[q]] for q in qids])
    cols = [id_col, vector_col]
    masks = None
    if probes is not None:
        missing = [q for q in qids if q not in probes]
        if missing:
            raise ValueError(f"queries without probe sets: {missing}")
        masks = [np.asarray(sorted(probes[q])) for q in qids]
        cols.append(part_col)

    def local_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(pdf[vector_col].tolist(), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            # rows × Q × dim diff, sequential dim fold: exact same op
            # order as the expression form (parity with the SQL oracle)
            d = np.sqrt(_seq_fold_sum((m[:, None, :] - qmat[None, :, :]) ** 2))
            d = round_half_up(d, round_to)
            parts = None if masks is None else pdf[part_col].to_numpy()
            out = []
            for j, qid in enumerate(qids):
                if masks is None:
                    out.append(_local_topk(qid, ids, d[:, j], k, id_col))
                    continue
                mask = np.isin(parts, masks[j])
                if mask.any():
                    out.append(
                        _local_topk(qid, ids[mask], d[mask, j], k, id_col)
                    )
            if out:
                yield pd.concat(out, ignore_index=True)

    candidates = embeddings.select(*cols).mapInPandas(
        local_topk, _topk_schema(embeddings, id_col)
    )
    return _finish_topk(candidates, k, id_col)


def knn_l2_batch_grouped(
    scoped: DataFrame,
    queries: dict[str, Sequence[float]],
    k: int,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Exact L2 top-k per query over rows ALREADY SCOPED to their query
    (input carries a ``qid`` column — e.g. the output of a per-query
    ADC shortlist join). One Arrow pass computes each row's distance to
    ITS query's vector, batch-local top-k bounds the shuffle, and the
    per-qid window finishes — the re-rank half of batched quantized
    serving. Distances round to ``round_to`` before the (distance, id)
    ordering, matching the single-query scorers exactly."""
    import numpy as np
    import pandas as pd

    qmap = {
        q: np.asarray([float(x) for x in v], dtype=np.float64)
        for q, v in queries.items()
    }

    def local_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = []
            for qid, grp in pdf.groupby("qid", sort=True):
                q = qmap.get(qid)
                if q is None:
                    continue
                m = np.array(grp[vector_col].tolist(), dtype=np.float64)
                d = round_half_up(
                    np.sqrt(_seq_fold_sum((m - q) ** 2)), round_to
                )
                out.append(
                    _local_topk(qid, grp[id_col].to_numpy(), d, k, id_col)
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    candidates = scoped.select("qid", id_col, vector_col).mapInPandas(
        local_topk, _topk_schema(scoped, id_col)
    )
    return _finish_topk(candidates, k, id_col)


def knn_cosine(
    embeddings: DataFrame,
    query_vector: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    predicate: Column | None = None,
    round_to: int | None = 6,
) -> DataFrame:
    """Exact cosine top-k: ``(id, similarity)`` descending, ties on id."""
    sim = cosine_similarity(
        F.col(vector_col).cast("array<double>"), _query_vector_lit(query_vector)
    )
    if round_to is not None:
        sim = F.round(sim, round_to)
    df = embeddings
    if predicate is not None:
        df = df.filter(predicate)
    scored = df.select(F.col(id_col), sim.alias("similarity"))
    return scored.orderBy(F.col("similarity").desc(), F.col(id_col).asc()).limit(k)
