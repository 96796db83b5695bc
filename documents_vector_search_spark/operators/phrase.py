"""Exact phrase search over a positional postings index.

The reference's keyword path quotes each query word separately and ANDs
them (main/indexes/indexers/sqllite_indexer.py:145-150) — bag-of-words
conjunctive, no adjacency. This module adds the classic next step a
search-engine user expects: exact phrase match ("hash join" as two
ADJACENT tokens), implemented the way positional inverted indexes do it
rather than by rescanning document text.

Index representation:
- ``positional postings(id, term, positions)`` — sorted 0-based token
  offsets of each term in each document. Same build shape as the BM25
  postings (one explode + one groupBy keyed on (id, term)), ~2x the
  bytes (the offsets array replaces the tf int; tf == size(positions)).
- Stored in the BM25 postings table itself (collection layout: one
  term-sorted file per update bucket), so a phrase query's index scan
  skips row groups holding none of its few terms.

Query evaluation (the standard positional-intersection algorithm):
for phrase terms t_0..t_{n-1}, a phrase occurrence starts at offset p
iff p ∈ positions(t_i) - i for every i. We pivot the (few) per-term
position arrays of each candidate document into one row and fold
``array_intersect`` over the shifted arrays — a single aggregation
keyed by document id over ONLY the rows of the phrase's terms.

Scale notes (100 TB):
- Same pruning contract as BM25: the IN-list filter on ``term`` pushes
  into the parquet scan, whose row-group stats on the sorted ``term``
  column skip the rest of the postings.
- One shuffle, keyed by id, over only the matched postings rows —
  a few rows per candidate document, not the corpus.
- The intersection fold is a pure Column expression (whole-stage
  codegen); the final top-k is TakeOrderedAndProject.
- Overlapping occurrences count individually ("a a a" contains
  "a a" twice) — same as counting matches of a sliding window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from documents_vector_search_spark.functions.text import tokenize


def build_positional_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(id, term, positions array<int>)`` — 0-based token offsets.

    Same single-shuffle build shape as ``bm25.build_postings``; the
    positions arrays come out sorted (collect_list order is not
    guaranteed, so we sort explicitly — cheap, the arrays are per-term
    term frequencies long, not document length long).
    """
    tokens = docs.select(
        F.col(id_col),
        F.posexplode_outer(tokenize(text_col)).alias("pos", "term"),
    ).filter(F.col("term").isNotNull())
    return tokens.groupBy(id_col, "term").agg(
        F.sort_array(F.collect_list("pos")).alias("positions")
    )


def tokenize_phrase(phrase: str) -> list[str]:
    """Phrase terms under the engine's ONE tokenizer (functions/text.py)
    — driver-side twin so query and index can't disagree."""
    import re

    return [t for t in re.split(r"[^a-z0-9]+", phrase.lower()) if t]


def phrase_match_counts(
    positional: DataFrame,
    phrase_terms: list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id, phrase_tf)`` — exact-phrase occurrence counts per document.

    ``positional`` is a positional postings table (see
    :func:`build_positional_postings`). Only documents containing the
    phrase at least once are returned.

    The per-term filter (``term IN phrase``) is the index pruning step;
    the pivot-to-map + shifted-``array_intersect`` fold is the classic
    positional merge. Duplicate phrase terms ("a b a") reuse the same
    postings row at each of their offsets.
    """
    if not phrase_terms:
        raise ValueError("empty phrase")
    distinct_terms = sorted(set(phrase_terms))
    matched = positional.filter(F.col("term").isin(distinct_terms))
    # one row per candidate doc: term -> positions map of the phrase's
    # terms only (bounded: |distinct phrase terms| entries)
    pivoted = matched.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct("term", "positions"))
        ).alias("pos_map")
    )
    # conjunctive gate: every distinct term must be present
    has_all = None
    for t in distinct_terms:
        cond = F.map_contains_key(F.col("pos_map"), F.lit(t))
        has_all = cond if has_all is None else (has_all & cond)
    candidates = pivoted.filter(has_all)
    # fold: starts = ∩_i (positions(t_i) - i). The shift lambda MUST be
    # single-parameter: F.transform passes the ELEMENT INDEX to a
    # two-parameter lambda, so the once-natural `lambda p, i=i: p - i`
    # silently computes p - position_in_array instead of p - offset.
    def _shifted(term: str, offset: int):
        return F.transform(
            F.col("pos_map")[term], lambda p: p - F.lit(offset)
        )

    starts = F.col("pos_map")[phrase_terms[0]]
    for i, t in enumerate(phrase_terms[1:], start=1):
        starts = F.array_intersect(starts, _shifted(t, i))
    return (
        candidates.select(
            F.col(id_col), F.size(starts).cast("bigint").alias("phrase_tf")
        )
        .filter(F.col("phrase_tf") > 0)
    )


def phrase_topk(
    docs: DataFrame,
    phrase: str,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    positional: DataFrame | None = None,
) -> DataFrame:
    """Top-k documents by exact-phrase occurrence count.

    Ranking: most occurrences first (the phrase analogue of term
    frequency), ties broken ascending on id — deterministic. Pass a
    prebuilt ``positional`` postings table to search an index instead
    of re-deriving one from the document table.
    """
    pos = positional if positional is not None else build_positional_postings(
        docs, id_col=id_col, text_col=text_col
    )
    counts = phrase_match_counts(pos, tokenize_phrase(phrase), id_col=id_col)
    return counts.orderBy(F.col("phrase_tf").desc(), F.col(id_col)).limit(k)


def phrase_match_counts_scan(
    docs: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Index-free twin of :func:`phrase_match_counts`: slide a window
    over each document's token array and count exact matches. One
    map-only scan — used by tests to pin the positional-index algebra
    against the obviously-correct definition, and usable directly when
    no index exists (it is the "grep" plan: reads every document)."""
    terms = tokenize_phrase(phrase)
    n = len(terms)
    lit_phrase = F.array(*[F.lit(t) for t in terms])
    toks = tokenize(text_col)
    # sequence(1, 0) yields a DESCENDING [1, 0] in Spark (and slice
    # rejects start=0), so short documents need an explicit guard
    window_count = F.when(F.size(toks) < n, F.lit(0)).otherwise(
        F.size(
            F.filter(
                F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
                lambda i: F.slice(toks, i, n) == lit_phrase,
            )
        )
    )
    return (
        docs.select(F.col(id_col), window_count.cast("bigint").alias("phrase_tf"))
        .filter(F.col("phrase_tf") > 0)
    )


def phrase_match_counts_batch(
    positional: DataFrame,
    phrases: dict[str, list[str]],
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-phrase counts for MANY phrases in ONE index scan —
    ``(qid, id, phrase_tf)``, matches only.

    Batch analog of :func:`phrase_match_counts`: the postings scan
    prunes to the UNION of every phrase's terms, a broadcast
    ``(qid, term, offset)`` map fans matched rows out per phrase
    occurrence slot, and one ``(qid, id)`` aggregation folds the
    shifted position arrays: starts = ∩_slots (positions − offset).
    A phrase's duplicate terms contribute one row per offset slot, so
    the same postings row feeds every slot it fills. The conjunctive
    gate is distinct-terms == the phrase's distinct-term count.
    """
    for qid, terms in phrases.items():
        if not terms:
            raise ValueError(f"empty phrase for {qid!r}")
    rows = []
    for qid, terms in sorted(phrases.items()):
        for off, t in enumerate(terms):
            rows.append((qid, t, off, len(set(terms))))
    spark = positional.sparkSession
    qframe = spark.createDataFrame(
        rows, "qid string, term string, offset int, n_distinct int"
    )
    union_terms = sorted({t for _, t, _, _ in rows})
    matched = positional.filter(F.col("term").isin(union_terms))
    fanned = matched.join(F.broadcast(qframe), "term").select(
        "qid",
        F.col(id_col),
        "term",
        "n_distinct",
        F.transform(
            F.col("positions"), lambda p: p - F.col("offset")
        ).alias("_shifted"),
    )
    agg = fanned.groupBy("qid", id_col).agg(
        F.count_distinct("term").alias("_terms"),
        F.max("n_distinct").alias("_n_distinct"),
        F.collect_list("_shifted").alias("_arrs"),
    )
    starts = F.aggregate(
        F.slice(F.col("_arrs"), 2, F.size(F.col("_arrs")) - 1),
        F.element_at(F.col("_arrs"), 1),
        lambda acc, x: F.array_intersect(acc, x),
    )
    return (
        agg.filter(F.col("_terms") == F.col("_n_distinct"))
        .select(
            "qid",
            F.col(id_col),
            F.size(starts).cast("bigint").alias("phrase_tf"),
        )
        .filter(F.col("phrase_tf") > 0)
    )


def phrase_topk_batch(
    positional: DataFrame,
    phrases: dict[str, str],
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k per phrase query from ONE scan — ``(qid, id, phrase_tf)``
    per-query descending, ties on id. Same salted two-phase grouped
    top-k as bm25_topk_batch (a common phrase has an unbounded match
    set; a bare per-qid window would sort it in one task)."""
    from pyspark.sql import Window

    counts = phrase_match_counts_batch(
        positional,
        {qid: tokenize_phrase(p) for qid, p in phrases.items() if tokenize_phrase(p)},
        id_col=id_col,
    )
    n_salts = 16
    w1 = Window.partitionBy("qid", "_salt").orderBy(
        F.col("phrase_tf").desc(), F.col(id_col).asc()
    )
    survivors = (
        counts.withColumn(
            "_salt", F.pmod(F.crc32(F.col(id_col).cast("string")), F.lit(n_salts))
        )
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_salt")
    )
    w2 = Window.partitionBy("qid").orderBy(
        F.col("phrase_tf").desc(), F.col(id_col).asc()
    )
    return (
        survivors.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
