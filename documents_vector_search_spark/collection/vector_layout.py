"""The embeddings table's vector layout, known in one place.

A collection's ``embeddings`` table (chunk_id, vector, _pb) may carry
up to two layout columns beside the full vectors, chosen at create time
and recorded in the manifest's ``converter``:

- a PRUNING column that is also a Parquet directory level: the SRP-LSH
  ``bucket`` (``ann``, operators/ann.py; random hyperplanes, no fit) or
  the IVF ``cluster_id`` (``ivf``, operators/ivf.py; KMeans centroids).
  A query scans only its probe partitions.
- a CODES column ranked before the exact re-rank: PQ codes (``ivf.pq``,
  operators/pq.py; requires IVF) or SQ8 codes (``sq8``, operators/sq.py;
  composes with either pruning column or none).

Creating, updating, refitting, compacting and searching a collection
all go through :class:`VectorLayout`, so the option rules, the manifest
record, the fits, the encoding, the directory levels and the per-query
probes live only here. Fitted state (centroids, codebooks, SQ8 bounds)
is persisted in the manifest — rounded centroids/codebooks, exact SQ8
doubles — so every update re-derives bit-identical columns without a
serialized model; only the explicit refits (collection/refit.py) move
it. Reference analog: one indexer class per vector backend owning its
build, update and search (main/indexes/indexers/faiss_indexer.py,
chroma_indexer.py).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from documents_vector_search_spark.collection.partitioning import UPDATE_PB_COL


def _vec():
    return F.col("vector").cast("array<double>")


@dataclass(frozen=True)
class VectorLayout:
    """``ann`` = ``{"nPlanes", "seed"}``; ``ivf`` = ``{"nList",
    "nProbe", "seed", "centroids"[, "pq": {"m", "kSub", "codebooks"}]}``;
    ``sq8`` = ``{"mins", "maxs"}`` — the manifest records verbatim. A
    layout built by :meth:`for_create` holds ``None`` for fitted state
    until :meth:`fit`. No layout at all is the flat table."""

    dim: int
    ann: dict | None = None
    ivf: dict | None = None
    sq8: dict | None = None

    def __post_init__(self) -> None:
        if self.ann and self.ivf:
            # create_collection refuses this composition; only a
            # hand-edited manifest carries it, and no single probe map
            # (nor partition order) serves or updates it
            raise ValueError(
                "collection manifest declares both ann and ivf layouts; "
                "create_collection never writes this composition, and it "
                "has no search or update path — re-create the collection"
            )

    @classmethod
    def for_create(
        cls,
        dim: int,
        ann_planes: int | None = None,
        ann_seed: int = 42,
        ivf_nlist: int | None = None,
        ivf_nprobe: int = 2,
        ivf_seed: int = 42,
        pq_m: int | None = None,
        pq_ksub: int = 16,
        sq8: bool = False,
    ) -> VectorLayout:
        """Check create_collection's layout options and return the
        unfitted layout they select."""
        if ann_planes and ivf_nlist:
            raise ValueError("ann_planes and ivf_nlist are mutually exclusive")
        if pq_m and not ivf_nlist:
            raise ValueError("pq_m requires ivf_nlist (IVFPQ layout)")
        if sq8 and pq_m:
            raise ValueError("sq8 and pq_m are mutually exclusive quantizers")
        ivf = None
        if ivf_nlist:
            ivf = {
                "nList": ivf_nlist,
                "nProbe": ivf_nprobe,
                "seed": ivf_seed,
                "centroids": None,
            }
            if pq_m:
                ivf["pq"] = {"m": pq_m, "kSub": pq_ksub, "codebooks": None}
        return cls(
            dim,
            ann={"nPlanes": ann_planes, "seed": ann_seed} if ann_planes else None,
            ivf=ivf,
            sq8={"mins": None, "maxs": None} if sq8 else None,
        )

    @classmethod
    def from_converter(cls, converter: dict) -> VectorLayout:
        """The layout a manifest's ``converter`` records, at its
        recorded embedding dim."""
        return cls(
            int(converter["embedding"]["dim"]),
            ann=converter.get("ann"),
            ivf=converter.get("ivf"),
            sq8=converter.get("sq8"),
        )

    def record(self) -> dict:
        """Converter entries of this layout, to merge into a manifest."""
        return {
            name: rec
            for name, rec in (("ann", self.ann), ("ivf", self.ivf), ("sq8", self.sq8))
            if rec
        }

    @property
    def needs_fit(self) -> bool:
        """IVF centroids, PQ codebooks and SQ8 bounds are fitted from
        the data; SRP hyperplanes derive from (dim, nPlanes, seed)."""
        return bool(self.ivf or self.sq8)

    @property
    def part_col(self) -> str | None:
        """The pruning column (a directory level), or None when flat."""
        if self.ann:
            return "bucket"
        return "cluster_id" if self.ivf else None

    @property
    def partition_cols(self) -> list[str]:
        """Directory levels of the embeddings table: the pruning column
        (Spark prunes on any level) above the update bucket."""
        return [c for c in (self.part_col, UPDATE_PB_COL) if c]

    @property
    def coder(self) -> str | None:
        """Which quantizer owns the ``codes`` column: "pq", "sq8" or None."""
        if self.ivf and self.ivf.get("pq"):
            return "pq"
        return "sq8" if self.sq8 else None

    def fit(
        self,
        emb: DataFrame,
        parts: Sequence[str] = ("ivf", "sq8"),
        sample_rows: int | None = None,
    ) -> VectorLayout:
        """Fit the layout's learned state from ``emb`` (a materialized
        table with a ``vector`` column — every fit re-reads it): IVF
        centroids (rounded, so the manifest reproduces assignment
        exactly) and PQ codebooks for ``"ivf"``, exact SQ8 bounds for
        ``"sq8"``. KMeans fits train on a bounded deterministic sample
        (operators/kmeans.py); ``sample_rows`` overrides its size."""
        ivf, sq8 = self.ivf, self.sq8
        if "ivf" in parts and ivf:
            from documents_vector_search_spark.operators.ivf import (
                fit_ivf,
                round_centroids,
            )

            seed = int(ivf.get("seed", 42))
            index = fit_ivf(
                emb, nlist=int(ivf["nList"]), id_col="chunk_id",
                vector_col="vector", seed=seed, sample_rows=sample_rows,
            )
            ivf = {**ivf, "centroids": round_centroids(index.centroids)}
            pq = ivf.get("pq")
            if pq:
                from documents_vector_search_spark.operators.pq import fit_pq

                codebooks = fit_pq(
                    emb, dim=self.dim, m=int(pq["m"]), ksub=int(pq["kSub"]),
                    vector_col="vector", seed=seed, sample_rows=sample_rows,
                )
                ivf["pq"] = {**pq, "codebooks": codebooks}
        if "sq8" in parts and sq8:
            from documents_vector_search_spark.operators.sq import fit_sq_bounds

            mins, maxs = fit_sq_bounds(emb, self.dim, vector_col="vector")
            sq8 = {"mins": mins, "maxs": maxs}
        return replace(self, ivf=ivf, sq8=sq8)

    def _planes(self) -> list[list[float]]:
        """The SRP hyperplanes: derived from (dim, nPlanes, seed), so
        create, updates and queries agree without storing them."""
        from documents_vector_search_spark.operators.dedup import (
            random_hyperplanes,
        )

        return random_hyperplanes(self.dim, self.ann["nPlanes"], self.ann["seed"])

    def encode(self, emb: DataFrame) -> DataFrame:
        """Add the layout columns ``emb`` lacks — ``bucket`` /
        ``cluster_id`` and ``codes`` — derived from ``vector`` with the
        recorded (never refitted) state. A refit drops the columns it
        re-derives and keeps the others."""
        if self.ann and "bucket" not in emb.columns:
            from documents_vector_search_spark.operators.dedup import (
                hyperplane_bucket,
            )

            emb = emb.withColumn(
                "bucket", hyperplane_bucket(_vec(), self._planes())
            )
        if self.ivf and "cluster_id" not in emb.columns:
            from documents_vector_search_spark.operators.ivf import (
                assign_cluster_auto,
            )

            emb = emb.withColumn(
                "cluster_id", assign_cluster_auto(_vec(), self.ivf["centroids"])
            )
        if self.coder == "pq" and "codes" not in emb.columns:
            from documents_vector_search_spark.operators.pq import pq_encode_auto

            emb = emb.withColumn(
                "codes", pq_encode_auto(_vec(), self.ivf["pq"]["codebooks"])
            )
        if self.coder == "sq8" and "codes" not in emb.columns:
            # out-of-range components clamp to the fitted bounds: every
            # code in the corpus shares one scale (refit_sq8 moves it)
            from documents_vector_search_spark.operators.sq import sq_encode_auto

            emb = emb.withColumn(
                "codes",
                sq_encode_auto(_vec(), self.sq8["mins"], self.sq8["maxs"]),
            )
        return emb

    def probes(
        self, qv: Sequence[float], probe_bits: int = 1, nprobe: int | None = None
    ) -> list:
        """``part_col`` values a query vector may scan: its SRP bucket
        plus every bucket within Hamming radius ``probe_bits``, or its
        ``nprobe`` (default: recorded) nearest centroids."""
        if self.ann:
            from documents_vector_search_spark.operators.ann import (
                multiprobe_buckets,
            )

            return multiprobe_buckets(qv, self._planes(), probe_bits)
        if not self.ivf:
            raise ValueError("no pruned layout configured")
        from documents_vector_search_spark.operators.ivf import (
            probe_clusters_fixed,
        )

        nprobe = nprobe or self.ivf["nProbe"]
        return probe_clusters_fixed(self.ivf["centroids"], qv, nprobe)

    def shortlist(self, emb: DataFrame, qv: Sequence[float], size: int) -> DataFrame:
        """The ``size`` chunk ids nearest ``qv`` by code distance (PQ
        ADC lookup tables or SQ8 per-dimension decode) — the candidates
        of the exact re-rank. ``emb`` is already pruned and filtered."""
        if self.coder == "pq":
            from documents_vector_search_spark.operators.pq import pq_adc_topk

            return pq_adc_topk(
                emb, self.ivf["pq"]["codebooks"], qv, size,
                id_col="chunk_id", codes_col="codes",
            ).select("chunk_id")
        from documents_vector_search_spark.operators.sq import (
            sq_adc_distance_expr,
        )

        return (
            emb.select(
                "chunk_id",
                sq_adc_distance_expr(
                    F.col("codes"), qv, self.sq8["mins"], self.sq8["maxs"]
                ).alias("adc_distance"),
            )
            .orderBy(F.col("adc_distance").asc(), F.col("chunk_id").asc())
            .limit(size)
            .select("chunk_id")
        )

    def batch_shortlist(
        self, emb: DataFrame, qvecs: dict, probes: dict, size: int
    ) -> DataFrame:
        """:meth:`shortlist` for many queries in ONE codes scan of the
        union of their probe partitions: ``(qid, chunk_id)`` rows, each
        query ranked over its own probes only, from the same rounded
        math as the per-query plan (identical shortlist sets)."""
        kwargs = dict(id_col="chunk_id", codes_col="codes", part_col=self.part_col)
        if self.coder == "pq":
            from documents_vector_search_spark.operators.pq import (
                pq_adc_batch_shortlist,
            )

            return pq_adc_batch_shortlist(
                emb, self.ivf["pq"]["codebooks"], qvecs, probes, size, **kwargs
            )
        from documents_vector_search_spark.operators.sq import (
            sq_adc_batch_shortlist,
        )

        return sq_adc_batch_shortlist(
            emb, self.sq8["mins"], self.sq8["maxs"], qvecs, probes, size, **kwargs
        )
