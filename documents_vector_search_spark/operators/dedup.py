"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (its unit of identity is the document id);
these are the north-star additions (BASELINE.json) every 100 TB corpus
pipeline needs. All are pure DataFrame transformations:

- exact_dedup:            content-hash groupBy (one shuffle on the hash)
- minhash_lsh_pairs:      MinHash + banded LSH candidate generation +
                          exact Jaccard verification (Broder 1997 /
                          Leskovec-Rajaraman-Ullman ch.3)
- simhash_fingerprints:   Charikar SimHash fingerprint per doc
- ngram_jaccard_pairs:    exact shingle-Jaccard for candidate pairs
- embedding_neardup_pairs: cosine near-dup via random-hyperplane LSH
                          bucketing + in-bucket exact cosine

Scale notes (100 TB):
- exact: shuffle keyed on a 60-bit content hash — uniform by
  construction, no skew.
- MinHash LSH: cost is (bands × corpus) bucket rows; the self-join is
  per-bucket. Popular buckets (boilerplate) are the skew risk — AQE
  skew-join splitting handles moderate skew; pathological buckets can be
  capped (cap parameter) exactly like production dedup pipelines do.
- Pairs are emitted with a < b once (no duplicate mirror pairs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from documents_vector_search_spark.functions.hashing import md5_hash64
from documents_vector_search_spark.functions.text import tokenize
from documents_vector_search_spark.functions.vectors import cosine_similarity


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups by 60-bit content hash.

    Returns ``(content_hash, canonical_id, dup_count)`` — canonical_id is
    the smallest member id (the row a keep-one-per-group pipeline keeps).
    """
    hashed = docs.select(
        md5_hash64(F.col(text_col)).alias("content_hash"), F.col(id_col)
    )
    return hashed.groupBy("content_hash").agg(
        F.min(id_col).alias("canonical_id"),
        F.count("*").alias("dup_count"),
    )


def soft_dedup_weights(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """Soft deduplication: instead of DROPPING exact duplicates, keep
    every copy with sampling weight ``1/dup_count`` (the inverse-
    duplication reweighting of SoftDedup, He et al. 2024 — total
    effective mass per content group stays 1, so common boilerplate is
    down-weighted rather than decimated and rare text keeps full
    weight). Returns ``(doc_id, content_hash, dup_count, weight)`` —
    one row per INPUT document, the loss-weighting sidecar a training
    loader joins on.

    Scale shape: the same 60-bit content-hash key as
    :func:`exact_dedup` but via ONE window count over the hash
    partition (a single uniform shuffle — no join back, no skew: the
    hash key is uniform by construction)."""
    hashed = docs.select(
        F.col(id_col),
        md5_hash64(F.col(text_col)).alias("content_hash"),
    )
    w = Window.partitionBy("content_hash")
    return hashed.select(
        id_col,
        "content_hash",
        F.count(F.lit(1)).over(w).cast("bigint").alias("dup_count"),
    ).withColumn(
        "weight", F.round(F.lit(1.0) / F.col("dup_count"), round_to)
    )


def with_shingles(
    docs: DataFrame,
    shingle_words: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(id, shingles ARRAY<STRING>)`` — distinct word n-gram shingles
    (map-only; delegates to the fastest producer, shingles.shingle_array,
    keeping the original id column name)."""
    from documents_vector_search_spark.operators.shingles import shingle_array

    return shingle_array(
        docs, shingle_words, id_col, text_col, distinct=True
    ).select(F.col("id").alias(id_col), "shingles")


def ngram_novelty(
    docs: DataFrame,
    shingle_words: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """Per-document n-gram novelty — ``(doc_id, n_shingles, n_novel,
    novelty)`` where ``novelty`` is the fraction of the document's
    DISTINCT word shingles that appear in NO other document: the
    complementary quality signal to the dedup family (a doc can dodge
    every near-dup pair yet be assembled almost entirely from corpus
    boilerplate — low novelty names it; high novelty marks genuinely
    fresh text worth upweighting).

    Scale shape: distinct shingles per doc (the with_shingles map-only
    pass), explode, ONE gram-keyed document-frequency aggregate
    (map-side combinable; shingles are distinct per doc so count(*) IS
    the doc frequency), join the df back on the gram (hot boilerplate
    grams are the skew risk — AQE skew-join splits them; the join
    output is bounded by the exploded rows), then one doc-keyed
    aggregate. Docs with no shingles (empty text) keep a row with
    novelty 0.0 via the final left join.

    The shingle arrays cross a repartition exchange BEFORE the explode:
    the tokenize+shingle expression is the expensive scan-side work and
    it has TWO consumers (the df aggregate and the join probe) — the
    exchange materializes it once and both consumers read the
    ReusedExchange instead of re-running the expression over the
    corpus. The explode is explode_outer + isNotNull: a plain explode
    triggers InferFiltersFromGenerate, whose inferred size(...) > 0
    predicate pushes below the exchange and RE-INLINES the whole
    tokenize+shingle expression into the scan's filter (measured 2.4x
    on this operator — the shingle_rows dodge, see
    operators/shingles.py); word_shingles never emits an empty array,
    so the outer NULL row never occurs and the filter removes
    nothing."""
    sh = with_shingles(docs, shingle_words, id_col, text_col).repartition(
        F.col(id_col)
    )
    exploded = sh.select(
        F.col(id_col), F.explode_outer("shingles").alias("_gram")
    ).filter(F.col("_gram").isNotNull())
    dfreq = exploded.groupBy("_gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("_df")
    )
    per_doc = (
        exploded.join(dfreq, "_gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum((F.col("_df") == 1).cast("int"))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return docs.select(id_col).join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_shingles", F.lit(0)).cast("bigint").alias(
            "n_shingles"
        ),
        F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
        F.round(
            F.when(
                F.coalesce("n_shingles", F.lit(0)) > 0,
                F.coalesce("n_novel", F.lit(0))
                / F.coalesce("n_shingles", F.lit(0)),
            ).otherwise(F.lit(0.0)),
            round_to,
        ).alias("novelty"),
    )


def minhash_band_rows(
    docs: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_words: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_shingles: bool = False,
    hashed_carry: bool = False,
) -> DataFrame:
    """``(id[, shingles], band_index, band_value)`` — one row per
    (document, LSH band): the map-only front half of MinHash-LSH,
    shared by the batch pair finder (:func:`minhash_lsh_pairs`, which
    carries the shingle arrays for exact verification) and the
    streaming admission gate (streaming/neardup.py, which matches on
    band values alone and must NOT pay the shingle-array shuffle
    weight).

    ``hashed_carry`` replaces each carried shingle STRING with the
    64-bit key already derived for the MinHash seeds (the two 32-bit
    md5 halves of the staged ``_ab`` struct, packed) — zero extra
    hashing, and the band shuffle ships 8 bytes per shingle instead of
    the string payload (the ``bands`` copies of every document's
    shingle array are the dominant shuffle bytes of the pair finders).
    Set-intersection/size verification over the packed keys equals the
    string form unless two distinct shingles collide in the first 64
    md5 bits (~n²/2⁶⁴ — the decontamination ``hash_grams`` trade)."""
    if num_hashes % bands != 0:
        raise ValueError("bands must divide num_hashes")
    r = num_hashes // bands

    from documents_vector_search_spark.functions.hashing import (
        minhash_ab_array,
        minhash_from_ab,
    )
    from documents_vector_search_spark.operators.shingles import shingle_array

    shing = shingle_array(docs, shingle_words, id_col, text_col, distinct=True)

    # stage the (a, b) family seeds as their OWN projection: md5+conv
    # run once per shingle, every family is then pure int64 arithmetic
    # (the optimizer keeps the stage — CollapseProject does not
    # duplicate non-cheap expressions used by several consumers)
    ab = shing.select(
        "id", "shingles", minhash_ab_array(F.col("shingles")).alias("_ab")
    )

    def fam(i: int):
        return lambda e: minhash_from_ab(e, i)

    if carry_shingles and hashed_carry:
        # pack the staged (a, b) md5 halves into one int64 per shingle
        # — pure arithmetic over the already-computed seeds
        ab = ab.select(
            "id",
            F.transform(
                "_ab", lambda e: F.shiftleft(e["a"], 32).bitwiseOR(e["b"])
            ).alias("shingles"),
            "_ab",
        )
    carry = ["id", "shingles"] if carry_shingles else ["id"]
    sig = ab.select(
        *carry,
        *[
            F.array_min(F.transform("_ab", fam(i))).alias(f"m{i}")
            for i in range(num_hashes)
        ],
    )
    band_vals = F.array(
        *[
            F.concat_ws("_", *[F.col(f"m{b * r + j}") for j in range(r)])
            for b in range(bands)
        ]
    )
    return sig.select(
        *carry, F.posexplode(band_vals).alias("band_index", "band_value")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_words: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int | None = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH + exact verification.

    1. signature: ``num_hashes`` MinHash values per doc (map-only).
    2. banding: split the signature into ``bands`` bands of r rows; docs
       sharing ANY band value become candidates (one shuffle keyed by
       (band_index, band_value)).
    3. verify: exact Jaccard on the candidates' shingle sets; keep
       pairs with ``jaccard >= threshold``.

    Precondition: ``id_col`` is unique per row. Pairs are keyed by id
    alone, so two rows sharing an id never pair with each other and
    can emit the same ``(id_a, id_b)`` twice with different scores;
    deduplicate ids first.

    ``max_bucket_size`` caps pathological bands (site boilerplate can
    put 1% of a 100 TB corpus in ONE bucket → a quadratic self-join):
    oversized buckets are dropped before pairing, trading recall inside
    mega-clusters for a bounded plan — the standard production-dedup
    guard. The cap is a window count over the band shuffle (no extra
    join) applied BEFORE the member-list aggregation, so a degenerate
    bucket never materializes in an aggregation buffer (WindowExec
    spills; a post-collect_list filter would not). None disables it.

    Plan shape — ONE pass over the corpus, TWO shuffles total, no
    ``.persist()`` (long-lived sessions must not accumulate cached
    RDDs), no joins:
    1. map-only: distinct shingle ARRAY per doc (operators/shingles.py
       shingle_array — O(1) ``get`` lookups, no window, no explode),
       minhash signature as ``array_min(transform(hash_i))`` per
       family, band values.
    2. shuffle 1: group by (band_index, band_value) collecting
       (id, shingles) member lists — the shingle arrays RIDE the band
       shuffle (``bands`` copies of the corpus shingles; the price of
       join-free verification).
    3. in-bucket double-explode emits each candidate pair WITH both
       shingle sets; exact Jaccard is computed inline and thresholded
       BEFORE the final shuffle.
    4. shuffle 2: pair dedup (a pair can collide in several bands) over
       the surviving near-duplicates only — tiny.

    ``max_bucket_size`` bounds rows BEFORE the member lists are even
    aggregated; without the cap a pathological bucket materializes as
    one array — always set it at corpus scale.

    Returns ``(id_a, id_b, jaccard)`` with id_a < id_b.
    """
    banded = minhash_band_rows(
        docs, num_hashes, bands, shingle_words, id_col, text_col,
        # verification rides 64-bit packed shingle keys (free from the
        # minhash seeds) — the band shuffle ships 8 bytes/shingle
        # instead of strings and the Jaccard intersections compare
        # longs (guide §2.3: shuffle fewer bytes)
        carry_shingles=True, hashed_carry=True,
    )

    if max_bucket_size is not None:
        # Cap BEFORE any aggregation materializes a bucket: a window
        # count over the band keys rides the same hash partitioning the
        # groupBy below needs (one shuffle serves both — EnsureRequirements
        # inserts no second Exchange), and WindowExec spills oversized
        # partitions to disk. Filtering after collect_list would first
        # materialize a degenerate mega-bucket (every member carrying its
        # full shingle array) in ONE in-memory aggregation buffer.
        # NOT plan-cost-free: WindowExec requires its input sorted by the
        # partition keys, so this adds a full Sort of the banded rows
        # (bands × corpus, each carrying its shingle array) that the bare
        # hash-aggregate plan does not have — the spillable-sort cost is
        # the price of never holding an uncapped bucket in memory.
        # Measured (OPTIMIZATION_r13.md negative results, sf0.1): the
        # sort costs ~20% over uncapped; the alternative two-pass hot-key
        # anti-join avoids the sort but recomputes the md5-heavy
        # signatures and lands ~55% slower — the window stays.
        w = Window.partitionBy("band_index", "band_value")
        banded = (
            banded.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )

    buckets = banded.groupBy("band_index", "band_value").agg(
        F.collect_list(F.struct("id", "shingles")).alias("_members")
    )

    pairs = (
        buckets.select(F.explode("_members").alias("a"), F.col("_members"))
        .select("a", F.explode("_members").alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
    )
    inter = F.size(F.array_intersect("a.shingles", "b.shingles")).cast("bigint")
    n_a = F.size("a.shingles").cast("bigint")
    n_b = F.size("b.shingles").cast("bigint")
    union = n_a + n_b - inter
    jac_raw = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    scored = pairs.select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        jac_raw.alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)

    deduped = scored.groupBy("id_a", "id_b").agg(
        F.first("jaccard").alias("jaccard")
    )
    jac = (
        F.round(F.col("jaccard"), round_to) if round_to is not None else F.col("jaccard")
    )
    return deduped.select("id_a", "id_b", jac.alias("jaccard"))


def dedup_filter(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply near-dup pairs to a corpus: drop every doc that has a
    smaller-id near-duplicate (greedy canonicalization).

    A doc is removed iff it appears as ``id_b`` of some pair (pairs are
    emitted with id_a < id_b). Each duplicate component keeps at least
    its minimum id; a full connected-components pass (iterative, see
    GraphFrames) only matters for sparse chains where an intermediate
    doc's only links point at larger ids. One broadcast anti-join.
    """
    victims = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return docs.join(victims, id_col, "left_anti")


def minhash_lsh_pairs_between(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_words: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int | None = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """BIPARTITE near-dup pairs: new batch × existing corpus — the
    incremental-crawl staple ("is any of today's crawl a near-dup of
    what we already hold?"). Same MinHash-LSH + exact-Jaccard
    verification as :func:`minhash_lsh_pairs`, but candidates come
    from a JOIN of the two sides' band rows instead of an in-bucket
    self-pairing, so no new×new or corpus×corpus pair is ever formed
    or verified.

    Scale shape: both sides band map-only (shared builder,
    :func:`minhash_band_rows`); the join shuffles on the band key —
    the batch side is small, the corpus side carries its shingles ONCE
    per band. ``max_bucket_size`` caps each side's degenerate buckets
    independently (window count before the join, same guard as the
    batch operator). Verification is inline on the joined row;
    surviving pairs are tiny before the final distinct.

    Returns ``(new_id, corpus_id, jaccard)``.
    """
    left = minhash_band_rows(
        new_docs, num_hashes, bands, shingle_words, id_col, text_col,
        carry_shingles=True, hashed_carry=True,
    ).select(
        F.col("id").alias("_nid"), F.col("shingles").alias("_nsh"),
        "band_index", "band_value",
    )
    right = minhash_band_rows(
        corpus_docs, num_hashes, bands, shingle_words, id_col, text_col,
        carry_shingles=True, hashed_carry=True,
    ).select(
        F.col("id").alias("_cid"), F.col("shingles").alias("_csh"),
        "band_index", "band_value",
    )
    if max_bucket_size is not None:
        w = Window.partitionBy("band_index", "band_value")
        left = (
            left.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
        right = (
            right.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    joined = left.join(right, ["band_index", "band_value"])
    inter = F.size(F.array_intersect("_nsh", "_csh")).cast("bigint")
    na = F.size("_nsh").cast("bigint")
    nb = F.size("_csh").cast("bigint")
    union = na + nb - inter
    jac_raw = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    # threshold on the RAW jaccard, round only for output — exactly the
    # batch operator's order, so both share one oracle arithmetic
    scored = joined.select(
        F.col("_nid").alias("new_id"),
        F.col("_cid").alias("corpus_id"),
        jac_raw.alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)
    deduped = scored.groupBy("new_id", "corpus_id").agg(
        F.first("jaccard").alias("jaccard")
    )
    jac = (
        F.round(F.col("jaccard"), round_to)
        if round_to is not None
        else F.col("jaccard")
    )
    return deduped.select("new_id", "corpus_id", jac.alias("jaccard"))


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(id, simhash)`` — 32-bit SimHash fingerprint per document.

    Equal fingerprints (or small Hamming distance — pair search via
    banding the fingerprint, same pattern as minhash_lsh_pairs) mark
    near-duplicates.

    Plan: MAP-ONLY — stage the per-token hash array as its own
    projection (one md5 per token), then bit b of the fingerprint is
    ``2 * count(tokens with bit b set) > n_tokens`` (equivalent to the
    ±1 vote sum being positive). No explode, no shuffle, no join for
    zero-token docs — measured ~2x faster than the explode +
    32-way-hash-aggregate form it replaces, and at 100 TB the whole
    sweep is a single scan.
    """
    hashed = docs.select(
        F.col(id_col),
        F.transform(tokenize(text_col), lambda s: md5_hash64(s)).alias("_h"),
    )
    n = F.size("_h")

    def bit_hits(b: int) -> Column:
        return F.size(
            F.filter(
                "_h",
                lambda x: F.shiftright(x, b).bitwiseAND(F.lit(1)) == 1,
            )
        )

    bits = None
    for b in range(32):
        term = F.when(
            bit_hits(b) * 2 > n, F.lit(2**b).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        bits = term if bits is None else bits + term
    return hashed.select(
        F.col(id_col),
        F.coalesce(F.when(n > 0, bits), F.lit(0).cast("bigint")).alias(
            "simhash"
        ),
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance — banded, never
    all-pairs: the 32-bit fingerprint splits into 4 byte-bands, and by
    pigeonhole any pair within ``max_hamming`` ≤ 3 bit flips agrees on
    at least one whole band, so candidates come from a (band_index,
    band_value) bucket join and the exact Hamming check
    (``bit_count(a XOR b)``) only runs inside buckets. The candidate
    superset is exact — the result is ALL pairs at ≤ ``max_hamming``,
    which is why the oracle may verify with brute force.

    Same plan shape as :func:`minhash_lsh_pairs` (bucket collect →
    in-bucket pair explode → distinct), but the rows carry ONE int64
    fingerprint instead of a shingle array — the cheapest of the
    near-dup family at scale. ``max_bucket_size`` is the same
    mega-bucket guard (boilerplate corpora collapse into few
    fingerprints): capped buckets trade recall inside degenerate
    clusters for a bounded plan. Requires ``max_hamming`` < 4.

    Precondition: ``id_col`` is unique per row. The uncapped path emits
    each pair from its first agreeing band with no ``distinct()``, so
    two rows sharing an id yield duplicate ``(id_a, id_b, hamming)``
    rows (and never pair with each other); deduplicate ids first.

    Returns ``(id_a, id_b, hamming)`` with id_a < id_b.
    """
    if not 0 <= max_hamming < 4:
        raise ValueError("banding guarantees recall only for max_hamming < 4")
    fps = simhash_fingerprints(docs, id_col, text_col)
    bands = F.array(
        *[
            F.shiftright(F.col("simhash"), 8 * b).bitwiseAND(F.lit(255))
            for b in range(4)
        ]
    )
    banded = fps.select(
        F.col(id_col).alias("id"),
        "simhash",
        F.posexplode(bands).alias("band_index", "band_value"),
    )
    if max_bucket_size is not None:
        w = Window.partitionBy("band_index", "band_value")
        banded = (
            banded.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    buckets = banded.groupBy("band_index", "band_value").agg(
        F.collect_list(F.struct("id", "simhash")).alias("_members")
    )
    pairs = (
        buckets.select(
            F.col("band_index"),
            F.explode("_members").alias("a"),
            F.col("_members"),
        )
        .select("band_index", "a", F.explode("_members").alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
    )
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    hamming = F.bit_count(xor).cast("bigint")
    out = pairs.select(
        F.col("band_index"),
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        hamming.alias("hamming"),
        xor.alias("_xor"),
    ).filter(F.col("hamming") <= max_hamming)
    if max_bucket_size is None:
        # a pair agreeing on k bands is generated in k buckets; emit it
        # only from the FIRST agreeing band (no earlier xor byte is
        # zero) — pairs are unique by construction and the distinct()
        # exchange over every candidate pair disappears. Only valid
        # uncapped: with max_bucket_size an earlier band's bucket may
        # have been dropped, and the pair must then survive via a
        # later surviving bucket.
        earlier_agrees = F.lit(False)
        for b in range(3):
            byte_b = F.shiftright(F.col("_xor"), 8 * b).bitwiseAND(
                F.lit(255)
            )
            earlier_agrees = earlier_agrees | (
                (F.col("band_index") > b) & (byte_b == 0)
            )
        return out.filter(~earlier_agrees).select("id_a", "id_b", "hamming")
    return out.select("id_a", "id_b", "hamming").distinct()


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    shingle_words: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int | None = 6,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ threshold, via an inverted
    shingle index (explode + self-join on shingle + pair aggregation).

    Exact but quadratic in the worst case — intended for bounded inputs
    (a single dedup bucket, a blocking partition); at corpus scale use
    minhash_lsh_pairs which verifies only LSH candidates.
    Returns ``(id_a, id_b, jaccard)`` with id_a < id_b.
    """
    shingled = with_shingles(docs, shingle_words, id_col, text_col)
    sizes = shingled.select(
        F.col(id_col).alias("id"), F.size("shingles").alias("n_sh")
    )
    inv = shingled.select(
        F.col(id_col).alias("id"), F.explode("shingles").alias("shingle")
    )
    pairs = (
        inv.alias("l")
        .join(inv.alias("r"), (F.col("l.shingle") == F.col("r.shingle")) & (F.col("l.id") < F.col("r.id")))
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count("*").alias("_inter"))
    )
    verified = (
        pairs.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn("_union", F.col("n_a") + F.col("n_b") - F.col("_inter"))
        .withColumn("jaccard", F.col("_inter") / F.col("_union"))
        .filter(F.col("jaccard") >= threshold)
    )
    jac = (
        F.round(F.col("jaccard"), round_to) if round_to is not None else F.col("jaccard")
    )
    return verified.select("id_a", "id_b", jac.alias("jaccard"))


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (stdlib RNG, fixed
    seed) — embedded as literals so any engine reproduces the buckets."""
    import random

    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        norm = sum(x * x for x in v) ** 0.5
        planes.append([round(x / norm, 6) for x in v])
    return planes


def hyperplane_bucket(vector_col: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: bit j = sign(dot(v, plane_j)).

    Charikar's SRP-LSH: collision probability = 1 - angle/π, so vectors
    with high cosine similarity land in the same bucket with high
    probability. Bucket count = 2^n_planes; at 100 TB, n_planes tunes
    bucket size to executor memory.
    """
    from documents_vector_search_spark.functions.vectors import (
        lit_double_array,
    )

    bucket = F.lit(0).cast("bigint")
    for j, plane in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(
                vector_col,
                lit_double_array(plane),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot >= 0, F.lit(2**j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return bucket


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    round_to: int | None = 6,
    dim: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Cosine near-duplicate pairs via SRP-LSH buckets + exact cosine.

    One shuffle keyed by bucket (members aggregated to a list, pairs by
    in-bucket double-explode — a self-join would shuffle the vectors
    twice and run the bucket projection twice); the quadratic
    verification runs only within buckets (corpus/2^n_planes expected
    rows each). Recall can be raised by multi-probe or repeating with a
    different seed and unioning. Returns ``(id_a, id_b, cosine)`` with
    id_a < id_b. Pass ``dim`` when known; otherwise one 1-row driver
    action probes it.

    ``max_bucket_size`` drops degenerate buckets (all-zero or massively
    duplicated embeddings collapse into one bucket, whose pair count is
    quadratic and whose ``collect_list`` of full vectors would fill one
    aggregation buffer). As in ``minhash_lsh_pairs``: the window count
    runs BEFORE the aggregation and rides the same hash partitioning
    (no extra Exchange), at the cost of a Sort of the bucketed rows
    that the bare hash-aggregate plan does not have — WindowExec spills
    oversized partitions instead of holding them in memory.
    """
    if dim is None:
        dim = len(embeddings.select(vector_col).first()[0])
    planes = random_hyperplanes(dim, n_planes, seed)
    vec = F.col(vector_col).cast("array<double>")
    bucketed = embeddings.select(
        F.col(id_col).alias("id"),
        vec.alias("v"),
        hyperplane_bucket(vec, planes).alias("bucket"),
    )
    return _bucketed_cosine_pairs(bucketed, threshold, round_to, max_bucket_size)


def embedding_neardup_pairs_between(
    new_embeddings: DataFrame,
    corpus_embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    round_to: int | None = 6,
    dim: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """BIPARTITE cosine near-dup: new batch × existing corpus in the
    EMBEDDING space — the semantic twin of
    :func:`minhash_lsh_pairs_between` (catches paraphrases the lexical
    detector misses). Both sides bucket with the SAME seeded
    hyperplanes, so cross-side candidates are a plain equi-join on the
    bucket id; exact cosine verifies on the joined row. A vector has
    exactly ONE bucket (unlike MinHash bands), so no pair can appear
    twice — no dedup pass needed. Per-side ``max_bucket_size`` caps
    degenerate buckets before the join, same guard as the in-corpus
    operator. Returns ``(new_id, corpus_id, cosine)``."""
    if dim is None:
        # an empty daily batch is routine for an admission check: probe
        # the new side, fall back to the corpus, and with both empty
        # any plane count yields the correct empty pair frame
        row = (
            new_embeddings.select(vector_col).first()
            or corpus_embeddings.select(vector_col).first()
        )
        dim = len(row[0]) if row else 1
    planes = random_hyperplanes(dim, n_planes, seed)
    vec = F.col(vector_col).cast("array<double>")

    def _bucketed(df: DataFrame, out_id: str, out_v: str) -> DataFrame:
        b = df.select(
            F.col(id_col).alias(out_id),
            vec.alias(out_v),
            hyperplane_bucket(vec, planes).alias("bucket"),
        )
        if max_bucket_size is not None:
            w = Window.partitionBy("bucket")
            b = (
                b.withColumn("_bsz", F.count(F.lit(1)).over(w))
                .filter(F.col("_bsz") <= max_bucket_size)
                .drop("_bsz")
            )
        return b

    left = _bucketed(new_embeddings, "new_id", "_nv")
    right = _bucketed(corpus_embeddings, "corpus_id", "_cv")
    # threshold on the RAW cosine, round only for output — the same
    # order as the in-corpus operator, so both share one oracle
    cos_raw = cosine_similarity(F.col("_nv"), F.col("_cv"))
    scored = (
        left.join(right, "bucket")
        .select("new_id", "corpus_id", cos_raw.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    cos = (
        F.round(F.col("cosine"), round_to)
        if round_to is not None
        else F.col("cosine")
    )
    return scored.select("new_id", "corpus_id", cos.alias("cosine"))


def _bucketed_cosine_pairs(
    bucketed: DataFrame,
    threshold: float,
    round_to: int | None,
    max_bucket_size: int | None,
) -> DataFrame:
    """Shared verification core for bucketed cosine near-dup: input is
    ``(id, v, bucket)``; one shuffle keyed by bucket, in-bucket pairs by
    double-explode, exact cosine filter. The bucketing strategy (SRP-LSH
    hyperplanes, KMeans clusters, ...) is the caller's choice."""
    if max_bucket_size is not None:
        w = Window.partitionBy("bucket")
        bucketed = (
            bucketed.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    grouped = bucketed.groupBy("bucket").agg(
        F.collect_list(F.struct("id", "v")).alias("_members")
    )
    pairs = (
        grouped.select(F.explode("_members").alias("a"), F.col("_members"))
        .select("a", F.explode("_members").alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine_similarity(F.col("a.v"), F.col("b.v")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    cos = (
        F.round(F.col("cosine"), round_to) if round_to is not None else F.col("cosine")
    )
    return pairs.select("id_a", "id_b", cos.alias("cosine"))


def semdedup_pairs(
    embeddings: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    round_to: int | None = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication", 2023 — public): KMeans-cluster the embedding space
    (operators/ivf.py fit, or any precomputed centroids) and verify
    cosine only WITHIN clusters. Versus SRP-LSH bucketing
    (:func:`embedding_neardup_pairs`) the coarse partition is
    data-aware — cluster boundaries follow the corpus's density, which
    is the published method's recall argument. Same single-shuffle
    verification core, same ``(id_a, id_b, cosine)`` contract; the
    assignment is the deterministic rounded-centroid argmin, so the
    whole pipeline given fixed centroids is oracle-checkable."""
    from documents_vector_search_spark.operators.ivf import (
        assign_cluster_expr,
    )

    vec = F.col(vector_col).cast("array<double>")
    bucketed = embeddings.select(
        F.col(id_col).alias("id"),
        vec.alias("v"),
        assign_cluster_expr(vec, centroids).alias("bucket"),
    )
    return _bucketed_cosine_pairs(bucketed, threshold, round_to, max_bucket_size)


def repeated_span_report(
    docs: DataFrame,
    span_tokens: int = 20,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    materialize: bool = True,
) -> DataFrame:
    """Exact substring (token-span) duplication report — the
    cross-document repeated-sequence check from "Deduplicating Training
    Data Makes Language Models Better" (Lee et al., 2022, public):
    boilerplate that MinHash misses because the CONTAINING documents
    are dissimilar (licenses, navigation chrome, quote chains) shows up
    as exact ``span_tokens``-token sequences shared across documents.
    Per document: ``(id, n_spans, dup_spans, dup_ratio)`` where
    dup_spans counts its sliding spans that appear in ≥ ``min_docs``
    distinct documents — the drop/trim signal (RefinedWeb-style
    curation drops docs with high dup_ratio).

    Spark shape, 100 TB-ready: span hashes are a pure map (tokenize →
    sliding slice → md5-int64, functions/hashing.py so the oracle
    recomputes them); the pipeline is two hash-keyed shuffles — one
    distinct-doc count per span hash (partial-agg friendly 8-byte
    keys), one per-doc count — and a semi join of span rows against the
    repeated-hash set. Nothing quadratic, no string shuffles. Documents
    shorter than ``span_tokens`` contribute ONE span of all their
    tokens (the word_shingles convention) so short boilerplate still
    matches; empty docs report zeros instead of colliding on the empty
    span.

    ``materialize`` (default) localCheckpoints the span rows: the
    tokenize → slice → hash explode is the dominant map cost and its
    output feeds EVERY downstream consumer (the per-doc n_spans count,
    the repeated-hash aggregation, and the per-doc semi join) — without
    the checkpoint Spark recomputes the explode per consumer,
    multiplying the corpus-scan work. The checkpoint stores only
    (id, int64) rows — ~16 bytes per corpus token.
    """
    from documents_vector_search_spark.functions.hashing import md5_hash64
    from documents_vector_search_spark.functions.text import tokenize

    k = span_tokens
    # token array staged as a GENERATOR output: the Project form gets
    # merged by CollapseProject into downstream consumers, so the
    # size() pre-filter and the span projection each re-evaluated
    # tokenize once per row (3 occurrences in the plan); the generator
    # attribute is computed once (classify._gram_array_from_tokens
    # rationale)
    staged = docs.select(
        F.col(id_col), F.explode_outer(F.array(tokenize(text_col))).alias("_toks")
    )
    spans = staged.filter(F.size("_toks") > 0).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("_toks") - F.lit(k - 1), F.lit(1)),
                ),
                lambda i: md5_hash64(
                    F.array_join(F.slice("_toks", i, k), " ")
                ),
            )
        ).alias("span_hash"),
    )
    if materialize:
        spans = spans.localCheckpoint()
    # n_spans falls out of the checkpointed span rows (exactly
    # greatest(size-k+1, 1) per non-empty doc) — no second tokenize
    # pass over the corpus text; the left join from the id column
    # restores empty docs as zeros
    totals = docs.select(F.col(id_col)).join(
        spans.groupBy(id_col).agg(
            F.count("*").cast("bigint").alias("n_spans")
        ),
        id_col,
        "left",
    ).select(
        id_col,
        F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
    )
    repeated = (
        spans.groupBy("span_hash")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("span_hash")
    )
    dup = (
        spans.join(repeated, "span_hash", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("dup_spans"))
    )
    return totals.join(dup, id_col, "left").select(
        F.col(id_col),
        "n_spans",
        F.coalesce(F.col("dup_spans"), F.lit(0)).cast("bigint").alias(
            "dup_spans"
        ),
        F.round(
            F.when(F.col("n_spans") == 0, F.lit(0.0)).otherwise(
                F.coalesce(F.col("dup_spans"), F.lit(0))
                / F.col("n_spans")
            ),
            6,
        ).alias("dup_ratio"),
    )
