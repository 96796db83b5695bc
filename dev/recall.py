"""Measure recall@k of the three ANN paths against exact kNN.

An ANN index that isn't measured is a guess: this harness runs N
deterministic query vectors through exact L2 top-k and each
approximate path (SRP-LSH bucketed, KMeans-IVF probe-pruned, PQ-ADC
with and without exact re-rank), and prints mean recall@k plus the
scan fraction each path reads — the recall/cost trade the engine's
ANN claims rest on. Results are recorded in CHANGES.md.

    python dev/recall.py [sf_dir] [k] [n_queries]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from documents_vector_search_spark import registry
from documents_vector_search_spark.operators.ann import (
    ann_knn_l2_bucketed,
    ensure_bucket_layout,
)
from documents_vector_search_spark.operators.ivf import (
    fit_ivf,
    ivf_search_l2_fixed,
    round_centroids,
)
from documents_vector_search_spark.operators.knn import knn_l2
from documents_vector_search_spark.operators.pq import (
    fit_pq,
    pq_adc_topk,
    pq_encode_expr,
)
from documents_vector_search_spark.session import get_spark

from pyspark.sql import functions as F


def _ids(df, id_col="vec_id") -> set:
    return {r[id_col] for r in df.collect()}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    n_queries = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    spark = get_spark(app_name="dvss-recall")
    spark.sparkContext.setLogLevel("ERROR")
    emb = registry._t(spark, sf_dir, "embeddings").cache()
    n_vecs = emb.count()
    dim = registry.EMBED_DIM
    # in-distribution protocol: corpus vectors themselves are the
    # queries (each has a real neighborhood incl. itself and its
    # near-dups); synthetic random vectors would measure ANN on
    # structureless noise and understate every path equally
    queries = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(n_queries).collect()
    ]

    # fits / layouts (once; amortized across all queries, like an index)
    layout = ensure_bucket_layout(
        spark,
        f"{sf_dir}/embeddings.parquet",
        f"{registry.ANN_LAYOUT_CACHE}/recall_{os.path.basename(sf_dir.rstrip('/'))}",
        n_planes=4,
        seed=42,
        dim=dim,
    )
    ivf = fit_ivf(emb, nlist=16)
    cents = round_centroids(ivf.centroids)
    codebooks = fit_pq(emb, dim=dim, m=registry.PQ_M, ksub=16)
    encoded = emb.withColumn(
        "codes", pq_encode_expr(F.col("embedding").cast("array<double>"), codebooks)
    ).cache()
    encoded.count()
    codebooks8 = fit_pq(emb, dim=dim, m=8, ksub=16)
    encoded8 = emb.withColumn(
        "codes", pq_encode_expr(F.col("embedding").cast("array<double>"), codebooks8)
    ).cache()
    encoded8.count()

    variants: dict[str, list[float]] = {}
    scan_fraction = {
        "lsh_probe1": (1 + 4) / 2**4,  # bucket + 1-bit multiprobe of 16
        "ivf_nprobe2": 2 / 16,
        "ivf_nprobe4": 4 / 16,
        # PQ scans every row but reads only CODES (m bytes/vec vs
        # 8*dim for the raw vectors): fraction of BYTES, not rows
        "pq_m4_adc": registry.PQ_M / (8.0 * dim),
        "pq_m4_rerank4k": registry.PQ_M / (8.0 * dim),
        "pq_m8_adc": 8 / (8.0 * dim),
        "pq_m8_rerank4k": 8 / (8.0 * dim),
        # codes-only scan of nprobe/nlist of rows
        "ivfpq_nprobe4_m8": (4 / 16) * (8 / (8.0 * dim)),
    }

    for q in queries:
        exact = _ids(knn_l2(emb, q, k))

        got = _ids(
            ann_knn_l2_bucketed(layout, q, k, n_planes=4, seed=42,
                                multiprobe_bits=1)
        )
        variants.setdefault("lsh_probe1", []).append(len(got & exact) / k)

        for nprobe in (2, 4):
            got = _ids(ivf_search_l2_fixed(emb, cents, q, k, nprobe=nprobe))
            variants.setdefault(f"ivf_nprobe{nprobe}", []).append(
                len(got & exact) / k
            )

        # IVFPQ composed path (the collection searcher's layout):
        # coarse prune to nprobe=4 of 16 clusters, ADC-shortlist 4k in
        # the survivors, exact re-rank — recall is bounded by the
        # coarse prune, cost by the codes-only ADC scan of survivors
        from documents_vector_search_spark.operators.ivf import (
            assign_cluster_expr,
            probe_clusters_fixed,
        )

        probes = probe_clusters_fixed(cents, q, 4)
        pruned = encoded8.withColumn(
            "_c", assign_cluster_expr(F.col("embedding").cast("array<double>"), cents)
        ).filter(F.col("_c").isin(probes))
        sl = pq_adc_topk(pruned, codebooks8, q, 4 * k).select("vec_id")
        got = _ids(knn_l2(emb.join(F.broadcast(sl), "vec_id", "left_semi"), q, k))
        variants.setdefault("ivfpq_nprobe4_m8", []).append(len(got & exact) / k)

        for name, enc, cbs in (
            ("pq_m4", encoded, codebooks),
            ("pq_m8", encoded8, codebooks8),
        ):
            adc = pq_adc_topk(enc, cbs, q, k)
            variants.setdefault(f"{name}_adc", []).append(
                len(_ids(adc) & exact) / k
            )
            shortlist = pq_adc_topk(enc, cbs, q, 4 * k).select("vec_id")
            rer = knn_l2(
                emb.join(F.broadcast(shortlist), "vec_id", "left_semi"), q, k
            )
            variants.setdefault(f"{name}_rerank4k", []).append(
                len(_ids(rer) & exact) / k
            )

    out = {
        "sf_dir": sf_dir,
        "n_vectors": n_vecs,
        "k": k,
        "n_queries": n_queries,
        "recall": {
            name: round(sum(v) / len(v), 3) for name, v in variants.items()
        },
        "scan_fraction": scan_fraction,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
