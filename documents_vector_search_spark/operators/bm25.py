"""BM25 keyword search as DataFrame aggregations over a postings table.

Spark-first re-expression of the reference's SQLite FTS5 index
(build: main/indexes/indexers/sqllite_indexer.py:29-41; query with
conjunctive match + ``ORDER BY bm25(documents) LIMIT k``:
sqllite_indexer.py:60-93,145-150).

Index representation (SURVEY §1.1 "Keyword index"):
- ``postings(term, id, tf)``        — term frequency per document/chunk
- ``doc_stats(id, dl)``             — document length in tokens
- corpus stats (N, avgdl) + ``df`` per term — computed by aggregation

Query semantics match FTS5's defaults: ALL query terms must be present
(conjunctive AND), Okapi BM25 with k1=1.2, b=0.75, and the
Lucene/FTS5-style IDF ``ln((N - df + 0.5) / (df + 0.5))``. FTS5 reports
lower-is-better (negated) scores (sqllite_indexer.py:81 orders
ascending); we report the standard higher-is-better score and order
descending — a documented sign flip, with ties broken on id.

Scale notes (100 TB):
- The postings build is one explode + one groupBy — a single shuffle
  keyed by (term, id); term stats are a map-side-combinable second agg.
- Partition/bucket ``postings`` BY term: a query then touches only the
  buckets of its (few) query terms, and the semi-join on query terms is
  a broadcast of a tiny literal list.
- The final top-k is TakeOrderedAndProject, not a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from documents_vector_search_spark.functions.hashing import md5_hash64
from documents_vector_search_spark.functions.text import tokenize

K1 = 1.2
B = 0.75

# postings layout: partitionBy("term_bucket") so a query's term lookup
# is Parquet partition pruning — it reads |query terms|/N of the index
N_TERM_BUCKETS = 64


def term_bucket(col) -> "F.Column":
    """Partition bucket of a term — md5-derived (engine-portable), the
    write-side half of the postings partition-pruning layout."""
    return (md5_hash64(col) % N_TERM_BUCKETS).cast("int")


def term_bucket_py(term: str) -> int:
    """Driver-side twin of :func:`term_bucket` for query terms — derived
    from the SAME md5_hash64 definition as the write side (salt format
    and hex prefix live in functions/hashing.py), so the two can't
    drift apart and silently prune every posting."""
    from documents_vector_search_spark.functions.hashing import md5_hash64_py

    return md5_hash64_py(term) % N_TERM_BUCKETS


def build_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_dl: bool = False,
    carry_cols: list[str] | None = None,
    with_positions: bool = False,
    bucket_partitions: int | None = None,
) -> DataFrame:
    """``(id, term, tf)`` postings from a document/chunk table (E4).

    ``with_dl`` denormalizes the document length into every posting row
    (``dl`` = sum of the doc's tfs — identical to build_doc_stats) —
    the classic IR index layout that lets scoring run without a
    doc-stats join. ``carry_cols`` ride through unchanged (they must be
    functionally dependent on ``id_col``, e.g. a partition-bucket
    column — added to the groupBy key, which costs nothing since the
    hash partitioning on (id, term) already co-locates them).

    ``with_positions`` adds sorted 0-based token offsets per (id, term)
    — the positional layout exact-phrase search needs
    (operators/phrase.py). tf stays, derived as size(positions); the
    build remains ONE shuffle. BM25 reads are unaffected: Parquet is
    columnar, so scoring scans that project (term, tf, dl) never read
    the positions bytes.

    ``with_dl`` builds need ZERO id-keyed data movement: ``dl`` is
    ``size(tokenize(text))`` — ``tokenize`` never emits empty/null
    tokens, so the array length IS the token count the old
    ``sum(tf) over (partition by id)`` window summed — computed BEFORE
    the explode and carried through it as a grouping column (it is
    functionally dependent on ``id_col``, the ``carry_cols`` pattern).
    That removes both the hash-repartition by id and the window of the
    previous form, restores map-side partial aggregation before the one
    remaining (id, term)-keyed exchange, and drops the per-document
    skew bound (no operator needs a whole document's postings on one
    partition any more). The token array is staged as a GENERATOR
    output (``explode_outer(array(tokenize(..)))`` — one row per doc)
    so the optimizer cannot re-inline the tokenize tree into both the
    ``size()`` and the explode (CollapseProject would otherwise
    re-tokenize every row twice; same family as the
    InferFiltersFromGenerate dodge below).

    ``bucket_partitions`` (index-layout writers): additionally derive
    ``term_bucket`` per token and hash-repartition the TOKEN stream by
    it before the aggregation — term_bucket joins the groupBy keys, so
    that single exchange satisfies the aggregation's clustering AND
    leaves the output partitioned exactly as the partitioned index
    write needs it (the caller's ``repartition(N, term_bucket)``
    becomes redundant). Trade: map-side combining is forgone (raw
    tokens cross, same bytes as the previous committed form's first
    exchange) but the second full-postings exchange — which re-shipped
    the positions payload — disappears. Parallelism and skew are
    bounded by the bucket count and the hottest bucket, identical to
    the write repartition this replaces."""
    carry = list(carry_cols or [])
    group_cols = list(carry)
    if with_dl:
        # stage the token array as a generator output, then dl rides
        # every token row into the groupBy keys
        staged = docs.select(
            F.col(id_col),
            *[F.col(c) for c in carry],
            F.explode_outer(F.array(tokenize(text_col))).alias("_toks"),
        )
        gen = (
            F.posexplode_outer("_toks").alias("pos", "term")
            if with_positions
            else F.explode_outer("_toks").alias("term")
        )
        tokens = staged.select(
            F.col(id_col),
            *carry,
            F.size("_toks").cast("bigint").alias("dl"),
            gen,
        ).filter(F.col("term").isNotNull())
        group_cols.append("dl")
    else:
        gen = (
            F.posexplode_outer(tokenize(text_col)).alias("pos", "term")
            if with_positions
            # explode_outer + IsNotNull: plain explode triggers
            # InferFiltersFromGenerate, which re-evaluates the tokenize
            # tree twice more per row (size>0 + isnotnull pre-filters)
            else F.explode_outer(tokenize(text_col)).alias("term")
        )
        tokens = docs.select(
            F.col(id_col), *[F.col(c) for c in carry], gen
        ).filter(F.col("term").isNotNull())
    out_cols = [id_col, *carry, "term", "tf"]
    if bucket_partitions:
        tokens = tokens.withColumn(
            "term_bucket", term_bucket(F.col("term"))
        ).repartition(bucket_partitions, F.col("term_bucket"))
        group_cols.append("term_bucket")
        out_cols.append("term_bucket")
    if with_positions:
        postings = (
            tokens.groupBy(id_col, *group_cols, "term")
            .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
            .withColumn("tf", F.size("positions").cast("bigint"))
        )
        out_cols.insert(out_cols.index("tf") + 1, "positions")
    else:
        postings = tokens.groupBy(id_col, *group_cols, "term").agg(
            F.count("*").alias("tf")
        )
    if with_dl:
        out_cols.insert(
            out_cols.index("positions" if with_positions else "tf") + 1, "dl"
        )
    return postings.select(*out_cols)


def build_doc_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """``(id, dl)`` token counts per document (+ ``carry_cols``)."""
    return docs.select(
        F.col(id_col),
        *[F.col(c) for c in (carry_cols or [])],
        F.size(tokenize(text_col)).alias("dl"),
    )


def field_text_exprs(
    title_col: str | None = None,
    title_from_text: bool = False,
    text_col: str = "text",
) -> dict[str, "F.Column"]:
    """``{"title": Column, "body": Column}`` — THE document field split,
    shared by the chunk topology (collection/creator.py build_chunks),
    :func:`build_field_postings`, and BM25F serving so the three can't
    drift.

    ``title_from_text=True`` reproduces the reference converters'
    ``"<title line>\\n\\n<body>"`` envelope (reference
    jira_document_converter.py:39-51): title = the text before the
    first blank line (the whole text when none), body = the rest (empty
    when none). The generic topology (dataset ingest) keeps body = the
    WHOLE text and title = ``title_col`` (or the id)."""
    text = F.col(text_col)
    if title_from_text:
        sep = F.locate("\n\n", text)  # 1-based, 0 when absent
        title = F.when(sep > 0, text.substr(F.lit(1), sep - 1)).otherwise(
            text
        )
        body = F.when(sep > 0, text.substr(sep + 2, F.length(text))).otherwise(
            F.lit("")
        )
    else:
        title = F.col(title_col) if title_col else F.col("id")
        body = text
    return {"title": title.cast("string"), "body": body.cast("string")}


def build_field_postings(
    docs: DataFrame,
    title_col: str | None = None,
    title_from_text: bool = False,
    id_col: str = "id",
    text_col: str = "text",
    carry_cols: list[str] | None = None,
    bucket_partitions: int | None = None,
) -> DataFrame:
    """Document-LEVEL field postings ``(document_id, field, term, tf,
    fl)`` — the BM25F serving index (searcher.search_documents_bm25f).

    Built from the DOCUMENT TEXT with the same field split as the chunk
    topology (:func:`field_text_exprs`), NOT by re-aggregating chunk
    postings: chunk overlap duplicates overlap-region tokens into
    adjacent chunks and splits tokens straddling chunk boundaries, so
    chunk-derived field tf/fl are only approximate. This table is exact
    under any ``chunk_overlap``.

    ``fl`` denormalizes the field's token length into every row (the
    ``with_dl`` pattern of :func:`build_postings`). Empty fields yield
    no rows, so per-field averages over this table are averages over
    documents where the field is non-empty — exactly
    :func:`bm25f_topk`'s ``avgfl`` convention.

    Scale shape: ONE corpus scan and ONE (document, field, term)
    groupBy for ALL fields — each field's tokenize runs once per row
    inside a single generator (a per-field explode + union would scan
    and tokenize the corpus once per field); callers partition the
    write by (term_bucket, _pb) so query terms prune partitions and
    incremental updates rewrite only affected buckets. Row count is
    bounded by the plain postings table's (per-document aggregation, no
    chunk duplication)."""
    carry = list(carry_cols or [])
    fields = field_text_exprs(title_col, title_from_text, text_col=text_col)
    names = list(fields)
    # stage 1: one row per (document, field) carrying that field's
    # token array. posexplode_outer over the array-of-token-arrays
    # evaluates each field's tokenize exactly once per document (the
    # _outer form dodges InferFiltersFromGenerate re-inlining the
    # tokenize tree into a scan-side size() pre-filter — the
    # build_postings rationale); the field NAME derives from the
    # generator position, so no per-element struct building.
    per_field_tokens = docs.select(
        F.col(id_col).alias("document_id"),
        *[F.col(c) for c in carry],
        F.posexplode_outer(
            F.array(*[tokenize(fields[n]) for n in names])
        ).alias("_fi", "_ftoks"),
    )
    field_name = F.element_at(
        F.array(*[F.lit(n) for n in names]), F.col("_fi") + 1
    )
    # stage 2: explode the field's tokens (a plain column ref — nothing
    # to re-evaluate) and aggregate all fields in one shuffle. fl =
    # size(_ftoks): tokenize never emits empty/null tokens, so the
    # array length IS the Σtf the old (document, field) window summed —
    # computed pre-explode and carried as a grouping column
    # (functionally dependent on (document_id, field)), which removes
    # the window and its exchange outright.
    tokens = per_field_tokens.select(
        "document_id",
        *carry,
        field_name.alias("field"),
        F.size("_ftoks").cast("bigint").alias("fl"),
        F.explode_outer("_ftoks").alias("term"),
    ).filter(F.col("term").isNotNull())
    group_cols = ["document_id", "field", "fl", *carry, "term"]
    out_cols = ["document_id", "field", "term", "tf", "fl", *carry]
    if bucket_partitions:
        # same single-exchange fusion as build_postings: the token
        # stream repartitions by term_bucket once, satisfying both the
        # aggregation's clustering (term_bucket joins the keys) and the
        # partitioned index write's layout
        tokens = tokens.withColumn(
            "term_bucket", term_bucket(F.col("term"))
        ).repartition(bucket_partitions, F.col("term_bucket"))
        group_cols.append("term_bucket")
        out_cols.append("term_bucket")
    out = tokens.groupBy(*group_cols).agg(
        F.count("*").cast("bigint").alias("tf")
    )
    return out.select(*out_cols)


def _attach_term_df(matched: DataFrame) -> DataFrame:
    """Whole-index per-term document frequency as a ``_df`` column on
    the matched postings rows (postings are unique per (id, term), so
    a per-term row count IS the df): a window count partitioned by
    term — ONE pass over ``matched``, so an expensive inline plan
    (ad-hoc postings built from the corpus) never runs twice. A
    groupBy+broadcast-join-back form costs an extra job, measured at
    +0.1-0.3 s per search on cached serving (OPTIMIZATION_r13.md).
    """
    from pyspark.sql import Window

    return matched.withColumn(
        "_df", F.count("*").over(Window.partitionBy("term"))
    )


def bm25_topk(
    docs: DataFrame,
    query: str,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    conjunctive: bool = True,
    round_to: int | None = 6,
    postings: DataFrame | None = None,
    doc_stats: DataFrame | None = None,
    candidates: DataFrame | None = None,
    corpus_stats: tuple[int, float] | None = None,
) -> DataFrame:
    """BM25 top-k: ``(id, score)`` descending, ties on id ascending.

    Pass prebuilt ``postings``/``doc_stats`` to search an existing index;
    otherwise they are derived from ``docs`` on the fly.

    ``candidates`` (a one-column DataFrame of allowed ids) restricts the
    SCORED rows only — corpus statistics (N, avgdl, per-term df) are
    always computed over the whole index, matching the reference's FTS5
    behaviour where a metadata filter narrows candidate rows but bm25()
    ranks with whole-index statistics (sqllite_indexer.py search path).

    ``corpus_stats`` = (n_docs, avgdl) embeds the corpus constants as
    literals (a serving process computes them once per index —
    CollectionSearcher does); otherwise one broadcast aggregate derives
    them from ``doc_stats``.

    Index-path plan (the serving hot path): partition-pruned +
    predicate-pushed scan of the query terms' postings → per-term df as
    a window count over that tiny set → score → top-k. No broadcast
    subqueries, no doc-stats join when postings carry ``dl``
    (build_postings(with_dl=True)), no ``.persist()`` (a long-lived
    serving process must not accumulate cached RDDs; table caching
    belongs to CollectionSearcher(cache_tables=True)).
    """
    q_terms = _query_terms(query)
    if not q_terms:
        return docs.select(
            F.col(id_col), F.lit(0.0).alias("score")
        ).limit(0)

    n_terms = len(q_terms)

    if postings is None:
        return _bm25_adhoc(docs, q_terms, k, id_col, text_col, conjunctive, round_to)

    from pyspark.sql import Window

    # partition pruning (term_bucket directory column, collection
    # layout) + an In(term, ...) literal filter that pushes into the
    # parquet scan — no term-list DataFrame, no broadcast
    if "term_bucket" in postings.columns:
        buckets = sorted({term_bucket_py(t) for t in q_terms})
        postings = postings.filter(F.col("term_bucket").isin(buckets))
    matched = postings.filter(F.col("term").isin(q_terms))

    # whole-index df, computed BEFORE any candidate restriction
    matched = _attach_term_df(matched)

    if candidates is not None:
        matched = matched.join(F.broadcast(candidates), id_col, "left_semi")

    if corpus_stats is not None:
        n_docs_c = F.lit(int(corpus_stats[0]))
        avgdl_c = F.lit(float(corpus_stats[1]))
        scored = matched
    else:
        if doc_stats is None:
            doc_stats = build_doc_stats(docs, id_col, text_col)
        stats = doc_stats.agg(
            F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
        )
        scored = matched.crossJoin(F.broadcast(stats))
        n_docs_c = F.col("n_docs")
        avgdl_c = F.col("avgdl")

    if "dl" not in scored.columns:
        if doc_stats is None:
            doc_stats = build_doc_stats(docs, id_col, text_col)
        scored = scored.join(doc_stats.select(id_col, "dl"), id_col)

    idf = F.log((n_docs_c - F.col("_df") + 0.5) / (F.col("_df") + 0.5))
    term_score = (
        idf
        * (F.col("tf") * (K1 + 1))
        / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / avgdl_c))
    )
    agg = scored.withColumn("term_score", term_score).groupBy(id_col).agg(
        F.sum("term_score").alias("_score"),
        F.count("*").alias("_matched_terms"),
    )
    if conjunctive:
        agg = agg.filter(F.col("_matched_terms") == n_terms)

    # round BEFORE ordering so the (score, id) total order is
    # engine-independent (SURVEY §7.4 scoring-parity risk)
    score = (
        F.round(F.col("_score"), round_to) if round_to is not None else F.col("_score")
    )
    return (
        agg.select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def bm25_topk_batch(
    queries: dict[str, str],
    k: int,
    postings: DataFrame,
    id_col: str = "doc_id",
    doc_stats: DataFrame | None = None,
    corpus_stats: tuple[int, float] | None = None,
    candidates: DataFrame | None = None,
    conjunctive: bool = True,
    round_to: int | None = 6,
) -> DataFrame:
    """BM25 top-k for MANY keyword queries in ONE postings scan —
    ``(qid, id, score)``, per-query descending, ties on id.

    The batch analog of the index path of :func:`bm25_topk` (same
    statistics, same conjunctive semantics, same rounding): the
    postings scan prunes to the UNION of all queries' term buckets and
    terms, per-term whole-index df comes from one window count, a tiny
    broadcast ``(qid, term, n_terms)`` map fans matched rows out to
    their queries, and one (qid, id) aggregation scores everything.
    Q queries cost one index scan instead of Q — the batch-evaluation
    shape (offline relevance sweeps, training-data labeling) wants.

    Queries that tokenize to nothing are omitted from the result."""
    from pyspark.sql import Window

    q_terms = {
        qid: terms
        for qid, terms in ((q, _query_terms(t)) for q, t in queries.items())
        if terms
    }
    if not q_terms:
        spark = postings.sparkSession
        return spark.createDataFrame(
            [], f"qid STRING, {id_col} STRING, score DOUBLE"
        )
    all_terms = sorted(set().union(*q_terms.values()))

    if "term_bucket" in postings.columns:
        buckets = sorted({term_bucket_py(t) for t in all_terms})
        postings = postings.filter(F.col("term_bucket").isin(buckets))
    matched = postings.filter(F.col("term").isin(all_terms))
    # whole-index per-term df BEFORE the query fan-out (postings are
    # unique per (id, term); see _attach_term_df)
    matched = _attach_term_df(matched)
    if candidates is not None:
        # same semantics as bm25_topk: restricts SCORED rows only,
        # statistics stay whole-index (df computed above)
        matched = matched.join(F.broadcast(candidates), id_col, "left_semi")

    spark = postings.sparkSession
    qmap = spark.createDataFrame(
        [
            (qid, term, len(terms))
            for qid, terms in sorted(q_terms.items())
            for term in terms
        ],
        ["qid", "term", "_n_terms"],
    )
    fanned = matched.join(F.broadcast(qmap), "term")

    if corpus_stats is not None:
        n_docs_c = F.lit(int(corpus_stats[0]))
        avgdl_c = F.lit(float(corpus_stats[1]))
        scored = fanned
    else:
        if doc_stats is None:
            raise ValueError("bm25_topk_batch needs doc_stats or corpus_stats")
        stats = doc_stats.agg(
            F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
        )
        scored = fanned.crossJoin(F.broadcast(stats))
        n_docs_c = F.col("n_docs")
        avgdl_c = F.col("avgdl")
    if "dl" not in scored.columns:
        if doc_stats is None:
            raise ValueError("bm25_topk_batch needs doc_stats when postings lack dl")
        scored = scored.join(doc_stats.select(id_col, "dl"), id_col)

    idf = F.log((n_docs_c - F.col("_df") + 0.5) / (F.col("_df") + 0.5))
    term_score = (
        idf
        * (F.col("tf") * (K1 + 1))
        / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / avgdl_c))
    )
    agg = (
        scored.withColumn("term_score", term_score)
        .groupBy("qid", id_col)
        .agg(
            F.sum("term_score").alias("_score"),
            F.count("*").alias("_matched_terms"),
            F.max("_n_terms").alias("_n_terms"),
        )
    )
    if conjunctive:
        agg = agg.filter(F.col("_matched_terms") == F.col("_n_terms"))
    score = (
        F.round(F.col("_score"), round_to) if round_to is not None else F.col("_score")
    )
    ranked = agg.select("qid", F.col(id_col), score.alias("score"))
    # two-phase salted grouped top-k: a query matching a common term has
    # an UNBOUNDED candidate set, and a bare per-qid window would sort
    # all of it in one task. Phase 1 takes top-k within (qid, salt) —
    # per-task sorts of ~candidates/n_salts; phase 2 ranks the ≤
    # n_salts × k survivors. Exact: the global top-k is a subset of the
    # union of per-salt top-ks, and both phases share the (score desc,
    # id asc) rounded total order.
    n_salts = 16
    w1 = Window.partitionBy("qid", "_salt").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    survivors = (
        ranked.withColumn(
            "_salt", F.pmod(F.crc32(F.col(id_col).cast("string")), F.lit(n_salts))
        )
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_salt")
    )
    w2 = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        survivors.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _bm25_adhoc(
    docs: DataFrame,
    q_terms: list[str],
    k: int,
    id_col: str,
    text_col: str,
    conjunctive: bool,
    round_to: int | None,
) -> DataFrame:
    """Index-less BM25 with ZERO wide shuffles.

    Per-doc tf for each query term is a map-side expression
    (``size(filter(tokens, = term))``), so the whole query is: one scan
    producing (id, dl, tf_0..tf_n), one single-row corpus aggregate
    (broadcast back), a map-side score expression, and
    TakeOrderedAndProject. No explode, no groupBy shuffle — the plan a
    100 TB ad-hoc keyword query wants. The base subtree executes twice
    (corpus stats + scoring) rather than being persisted: both passes
    are fully codegen map-side scans, and an uncollected ``.persist()``
    would leak cached partitions in a long-lived session.
    """

    def eq(term: str):
        # single-arg lambda on purpose: a two-arg lambda would receive
        # the array INDEX as its second argument
        return lambda t: t == F.lit(term)

    toks = tokenize(text_col)
    base = docs.select(F.col(id_col), toks.alias("_toks")).select(
        F.col(id_col),
        F.size("_toks").alias("dl"),
        *[
            F.size(F.filter("_toks", eq(term))).alias(f"tf_{i}")
            for i, term in enumerate(q_terms)
        ],
    )

    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("bigint")).alias(f"df_{i}")
            for i in range(len(q_terms))
        ],
    )

    scored = base.crossJoin(F.broadcast(stats))
    if conjunctive:
        cond = None
        for i in range(len(q_terms)):
            c = F.col(f"tf_{i}") > 0
            cond = c if cond is None else (cond & c)
        scored = scored.filter(cond)

    term_scores = []
    for i in range(len(q_terms)):
        tf = F.col(f"tf_{i}")
        df = F.col(f"df_{i}")
        idf = F.log((F.col("n_docs") - df + 0.5) / (df + 0.5))
        ts = idf * (tf * (K1 + 1)) / (
            tf + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))
        )
        term_scores.append(F.when(tf > 0, ts).otherwise(F.lit(0.0)))

    total = term_scores[0]
    for ts in term_scores[1:]:
        total = total + ts
    score = F.round(total, round_to) if round_to is not None else total
    return (
        scored.select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _query_terms(query: str) -> list[str]:
    """Tokenize the query string with the SAME tokenizer as indexing,
    dropping duplicate terms (FTS5's conjunctive match is per distinct
    term). Driver-side twin of functions/text.py::tokenize."""
    import re

    terms = [t for t in re.split(r"[^a-z0-9]+", query.lower()) if t]
    seen: dict[str, None] = {}
    for t in terms:
        seen.setdefault(t)
    return list(seen)


def matches_all_terms(text_col, terms: list[str]) -> "F.Column":
    """Boolean Column: the document contains EVERY term — FTS5's
    conjunctive match (sqllite_indexer.py:145-150) as a map-only
    predicate, for match-SET consumers (facet counts, filter-only
    callers) that need the whole matched population rather than a
    ranked top-k. One tokenize, one array_intersect — no explode, no
    per-term re-tokenization."""
    distinct_terms = sorted(set(terms))
    lit_terms = F.array(*[F.lit(t) for t in distinct_terms])
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.array_intersect(tokenize(col), lit_terms)) == len(
        distinct_terms
    )


def bm25_weighted_adhoc(
    docs: DataFrame,
    term_weights: list[tuple[str, float]],
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Disjunctive weighted BM25: ``score(d) = Σ_t w_t · bm25(t, d)``
    over documents matching AT LEAST ONE weighted term — the rescoring
    stage of query-expansion retrieval. Same zero-wide-shuffle plan as
    ``_bm25_adhoc`` (map-side tf columns, one broadcast stats row,
    TakeOrdered).

    Determinism: each term's weighted contribution quantizes to int64
    billionths BEFORE the cross-term sum (the registry's integer-cents
    rule), so the score never depends on float addition order; the
    int64 sum divides back out and rounds to 6 for the final ordering.
    """
    if not term_weights:
        raise ValueError("bm25_weighted_adhoc needs at least one term")

    def eq(term: str):
        return lambda t: t == F.lit(term)

    toks = tokenize(text_col)
    base = docs.select(F.col(id_col), toks.alias("_toks")).select(
        F.col(id_col),
        F.size("_toks").alias("dl"),
        *[
            F.size(F.filter("_toks", eq(term))).alias(f"tf_{i}")
            for i, (term, _) in enumerate(term_weights)
        ],
    )
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("bigint")).alias(f"df_{i}")
            for i in range(len(term_weights))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))

    any_match = None
    contribs = []
    for i, (_, w) in enumerate(term_weights):
        tf = F.col(f"tf_{i}")
        df = F.col(f"df_{i}")
        idf = F.log((F.col("n_docs") - df + 0.5) / (df + 0.5))
        ts = idf * (tf * (K1 + 1)) / (
            tf + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))
        )
        quantized = F.floor(
            F.lit(float(w)) * ts * F.lit(1e9) + F.lit(0.5)
        ).cast("bigint")
        contribs.append(F.when(tf > 0, quantized).otherwise(F.lit(0)))
        c = tf > 0
        any_match = c if any_match is None else (any_match | c)

    total = contribs[0]
    for c in contribs[1:]:
        total = total + c
    score = F.round(total.cast("double") / F.lit(1e9), 6)
    return (
        scored.filter(any_match)
        .select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


# quantization scales for the RM3 relevance-model arithmetic: feedback
# scores to millionths (they are already rounded to 6), per-term
# relevance mass to 1e-12 — both make every cross-row sum exact int64
_RM3_S_SCALE = 1e6
_RM3_C_SCALE = 1e12


def rm3_expansion_weights(
    docs: DataFrame,
    query: str,
    k_fb: int = 5,
    n_expand: int = 8,
    lam: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> list[tuple[str, float]]:
    """RM3 pseudo-relevance feedback (Lavrenko & Croft relevance
    models; the RM3 interpolated form popularized by Anserini/Indri):

    1. feedback set = conjunctive BM25 top ``k_fb``; each feedback doc
       weighs ``w_d = s_d / Σ s_d`` (scores as exact int64 millionths,
       so the normalization never depends on summation order);
    2. relevance model ``rm1(t) = Σ_d w_d · tf_td / dl_d`` — computed
       from the ``k_fb`` feedback documents' OWN term vectors
       (re-tokenized from their text: O(k_fb) work, never an inverted
       -index scan), quantized to int64 before the per-term sum;
    3. expansion terms = top ``n_expand`` by rm1 mass, excluding the
       original query terms and any term with corpus ``df > N/2``
       (negative-IDF stopword guard — standard RM3 practice);
    4. final weights = ``λ · qtf/|Q|`` for original terms,
       ``(1-λ) · rm1(t)/Σ rm1`` (normalized over the selected set) for
       expansion terms.

    Returns ``[(term, weight)]`` — original terms first (query order),
    then expansion terms by descending mass. The ≤ ``n_expand`` row
    collect is a bounded fit-style driver step; feed the result to
    :func:`bm25_weighted_adhoc` (or the index-backed scorer) for the
    100 TB rescoring pass.
    """
    q_terms = _query_terms(query)
    if not q_terms:
        raise ValueError("rm3 needs a non-empty query")

    # materialize the ≤k_fb-row feedback set ONCE: it is referenced
    # twice below (the normalization total and the per-doc weights),
    # and without the cut each reference re-runs the whole conjunctive
    # BM25 retrieval — a full corpus scan chain — inside the same plan
    fb = (
        bm25_topk(docs, query, k_fb, id_col, text_col)
        .select(
            F.col(id_col),
            F.floor(F.col("score") * _RM3_S_SCALE + F.lit(0.5))
            .cast("bigint")
            .alias("_s6"),
        )
        .localCheckpoint()
    )
    tot = fb.agg(F.sum("_s6").alias("_tot"))
    fbw = fb.crossJoin(F.broadcast(tot)).select(
        F.col(id_col),
        (F.col("_s6").cast("double") / F.col("_tot").cast("double")).alias(
            "_wd"
        ),
    )
    # term vectors of the feedback docs only (broadcast the tiny hit set)
    fb_toks = docs.join(F.broadcast(fbw), id_col).select(
        F.col(id_col), F.col("_wd"), tokenize(text_col).alias("_toks")
    )
    fb_tf = (
        fb_toks.select(
            F.col(id_col),
            "_wd",
            F.size("_toks").alias("_dl"),
            F.explode("_toks").alias("term"),
        )
        .groupBy(id_col, "term", "_wd", "_dl")
        .agg(F.count("*").alias("tf"))
    )
    contrib = F.floor(
        F.col("_wd")
        * F.col("tf").cast("double")
        / F.col("_dl").cast("double")
        * F.lit(_RM3_C_SCALE)
        + F.lit(0.5)
    ).cast("bigint")
    # materialize the candidate relevance model (≤ feedback-set vocab
    # rows): rm1 feeds BOTH the df-guard's broadcast candidate list and
    # the final mass join — inlined, each reference would re-fetch and
    # re-tokenize the feedback documents' text (a docs-table pass each)
    rm1 = (
        fb_tf.select("term", contrib.alias("_c"))
        .groupBy("term")
        .agg(F.sum("_c").alias("rm1_c"))
        .filter(~F.col("term").isin(q_terms))
        .localCheckpoint()
    )
    # stopword guard: corpus df per candidate term (broadcast the
    # candidate list; map-side partial agg bounds the shuffle at
    # |candidates| × partitions rows)
    n_docs = docs.count()
    doc_terms = docs.select(
        F.explode(F.array_distinct(tokenize(text_col))).alias("term")
    )
    df_tbl = (
        doc_terms.join(F.broadcast(rm1.select("term")), "term", "left_semi")
        .groupBy("term")
        .agg(F.count("*").alias("_df"))
    )
    top = (
        rm1.join(df_tbl, "term")
        .filter(F.col("_df") * 2 <= n_docs)
        .orderBy(F.col("rm1_c").desc(), F.col("term").asc())
        .limit(n_expand)
        .collect()
    )
    tot_c = sum(int(r.rm1_c) for r in top)
    weights = [(t, lam * (1.0 / len(q_terms))) for t in q_terms]
    if tot_c > 0:
        weights += [
            (r.term, (1.0 - lam) * (int(r.rm1_c) / tot_c)) for r in top
        ]
    return weights


def rm3_topk(
    docs: DataFrame,
    query: str,
    k: int,
    k_fb: int = 5,
    n_expand: int = 8,
    lam: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Query-expansion retrieval: RM3 expansion then weighted
    disjunctive rescoring. ``(id, score)`` descending, ties on id."""
    weights = rm3_expansion_weights(
        docs, query, k_fb, n_expand, lam, id_col, text_col
    )
    return bm25_weighted_adhoc(docs, weights, k, id_col, text_col)


def bm25_weighted_topk(
    term_weights: list[tuple[str, float]],
    k: int,
    postings: DataFrame,
    id_col: str = "chunk_id",
    candidates: DataFrame | None = None,
    corpus_stats: tuple[int, float] | None = None,
    doc_stats: DataFrame | None = None,
) -> DataFrame:
    """Index-path weighted disjunctive BM25 — the rescoring half of
    query expansion against a BUILT index. Same partition-pruned plan
    as ``bm25_topk``'s index path (term_bucket pruning + an In(term)
    literal pushed into the scan, window df over the matched slice),
    but each term's contribution is ``w_t · bm25(t, d)`` quantized to
    int64 billionths before the per-document sum, and ANY match
    qualifies (expansion retrieval is disjunctive by construction).

    ``term_weights`` must be literal (the serving caller collects the
    bounded expansion set first) so the scan stays pruned.
    """
    if not term_weights:
        raise ValueError("bm25_weighted_topk needs at least one term")
    from pyspark.sql import Window

    terms = [t for t, _ in term_weights]
    if "term_bucket" in postings.columns:
        buckets = sorted({term_bucket_py(t) for t in terms})
        postings = postings.filter(F.col("term_bucket").isin(buckets))
    matched = postings.filter(F.col("term").isin(terms))
    matched = _attach_term_df(matched)
    if candidates is not None:
        matched = matched.join(F.broadcast(candidates), id_col, "left_semi")
    if corpus_stats is not None:
        n_docs_c = F.lit(int(corpus_stats[0]))
        avgdl_c = F.lit(float(corpus_stats[1]))
        scored = matched
    else:
        if doc_stats is None:
            raise ValueError("need corpus_stats or doc_stats")
        stats = doc_stats.agg(
            F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
        )
        scored = matched.crossJoin(F.broadcast(stats))
        n_docs_c = F.col("n_docs")
        avgdl_c = F.col("avgdl")
    if "dl" not in scored.columns:
        if doc_stats is None:
            raise ValueError("postings carry no dl and no doc_stats given")
        scored = scored.join(doc_stats.select(id_col, "dl"), id_col)

    w_map = F.create_map(
        *[F.lit(x) for pair in term_weights for x in (pair[0], float(pair[1]))]
    )
    idf = F.log((n_docs_c - F.col("_df") + 0.5) / (F.col("_df") + 0.5))
    term_score = (
        idf
        * (F.col("tf") * (K1 + 1))
        / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / avgdl_c))
    )
    quantized = F.floor(
        F.element_at(w_map, F.col("term")) * term_score * F.lit(1e9)
        + F.lit(0.5)
    ).cast("bigint")
    agg = (
        scored.select(F.col(id_col), quantized.alias("_cq"))
        .groupBy(id_col)
        .agg(F.sum("_cq").alias("_total"))
    )
    score = F.round(F.col("_total").cast("double") / F.lit(1e9), 6)
    return (
        agg.select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def rm3_weights_from_feedback(
    feedback: list[tuple[float, str]],
    q_terms: list[str],
    df_lookup: dict[str, int],
    n_docs: int,
    n_expand: int = 8,
    lam: float = 0.5,
) -> list[tuple[str, float]]:
    """Driver-side RM3 weight computation from an already-collected
    feedback set — the SERVING shape: the k_fb hit texts fit on the
    driver (each is one chunk), so the relevance model is exact Python
    integer arithmetic with zero extra Spark jobs; only the corpus-df
    guard touches the index (the caller passes ``df_lookup`` from one
    bucket-pruned postings scan over the candidate terms).

    Same quantization contract as :func:`rm3_expansion_weights` —
    feedback scores to int64 millionths, per-term mass to 1e-12 — so
    the adhoc and serving paths compute identical weights from
    identical feedback.
    """
    import math
    import re

    if not q_terms:
        raise ValueError("rm3 needs a non-empty query")
    s6 = [math.floor(score * _RM3_S_SCALE + 0.5) for score, _ in feedback]
    tot = sum(s6)
    mass: dict[str, int] = {}
    if tot > 0:
        for (score, text), s in zip(feedback, s6):
            toks = [
                t for t in re.split(r"[^a-z0-9]+", text.lower()) if t
            ]
            if not toks:
                continue
            w_d = s / tot
            dl = len(toks)
            tf: dict[str, int] = {}
            for t in toks:
                tf[t] = tf.get(t, 0) + 1
            for t, f_td in tf.items():
                if t in q_terms:
                    continue
                c = math.floor(w_d * f_td / dl * _RM3_C_SCALE + 0.5)
                mass[t] = mass.get(t, 0) + c
    cand = [
        (t, m)
        for t, m in mass.items()
        if df_lookup.get(t, 0) * 2 <= n_docs
    ]
    cand.sort(key=lambda tm: (-tm[1], tm[0]))
    top = cand[:n_expand]
    tot_c = sum(m for _, m in top)
    weights = [(t, lam * (1.0 / len(q_terms))) for t in q_terms]
    if tot_c > 0:
        weights += [(t, (1.0 - lam) * (m / tot_c)) for t, m in top]
    return weights


def ql_dirichlet_topk(
    docs: DataFrame,
    query: str,
    k: int,
    mu: float = 2000.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int | None = 6,
    postings: DataFrame | None = None,
    doc_stats: DataFrame | None = None,
    candidates: DataFrame | None = None,
    coll_len: float | None = None,
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood top-k (Zhai & Lafferty 2001).

    The language-modeling counterpart to BM25 — the second of the two
    classic lexical ranking functions. Score of document d for query q:

        score(d) = Σ_{t∈q} qtf_t · ln(1 + tf_{t,d} / (μ · p(t|C)))
                   + |q| · ln(μ / (dl_d + μ))

    with p(t|C) = ctf_t / |C| (corpus unigram probability). This is the
    standard rank-equivalent decomposition of Π p(t|d)^qtf with
    Dirichlet smoothing: only MATCHED (t, d) pairs contribute to the
    sum, so evaluation needs exactly one postings lookup per query term
    — no dense scoring of absent terms.

    Semantics: disjunctive candidates (documents matching ≥1 query
    term are ranked; empty-match documents are not returned — the
    universal IR convention). Out-of-vocabulary query terms (ctf = 0,
    whose smoothed probability would be log 0) are dropped from the
    query, and |q| counts in-vocabulary occurrences only.

    Scale shape (identical to the BM25 path): partition-pruned /
    predicate-pushed postings scan of the query's terms → corpus term
    frequencies as a tiny per-term aggregate over those same rows →
    two one-row broadcast stats (collection length, in-vocab query
    length) → one groupBy(id) → TakeOrdered top-k.

    ``candidates`` (one-column id frame) restricts the SCORED rows
    only — collection statistics stay whole-index, matching the BM25
    path's filtered-search semantics. ``coll_len`` embeds the corpus
    token count as a literal (a serving process reads it off the
    manifest: numberOfChunks × avgChunkLength) — no stats job at all.
    """
    # _query_terms dedupes (FTS5 conjunctive semantics); QL weights by
    # query-term FREQUENCY, so tokenize with multiplicity here
    import re

    raw_terms = [t for t in re.split(r"[^a-z0-9]+", query.lower()) if t]
    if not raw_terms:
        return docs.select(F.col(id_col), F.lit(0.0).alias("score")).limit(0)
    qtf: dict[str, int] = {}
    for t in raw_terms:
        qtf[t] = qtf.get(t, 0) + 1
    distinct_terms = sorted(qtf)

    if postings is None:
        postings = build_postings(docs, id_col=id_col, text_col=text_col)
    if doc_stats is None:
        doc_stats = build_doc_stats(docs, id_col=id_col, text_col=text_col)

    if "term_bucket" in postings.columns:
        buckets = sorted({term_bucket_py(t) for t in distinct_terms})
        postings = postings.filter(F.col("term_bucket").isin(buckets))
    keep = [id_col, "term", "tf"] + (["dl"] if "dl" in postings.columns else [])
    matched = postings.filter(F.col("term").isin(distinct_terms)).select(*keep)

    # corpus term frequency of each (present) query term — reuses the
    # already-pruned matched rows, map-side combinable; computed BEFORE
    # any candidate restriction (whole-index statistics)
    ctf = matched.groupBy("term").agg(F.sum("tf").alias("ctf"))

    if candidates is not None:
        matched = matched.join(F.broadcast(candidates), id_col, "left_semi")

    # query term multiplicity as a literal CASE over the few terms
    qtf_expr = F.lit(0)
    for t, m in qtf.items():
        qtf_expr = F.when(F.col("term") == t, F.lit(m)).otherwise(qtf_expr)

    if coll_len is not None:
        coll = None
        coll_len_c = F.lit(float(coll_len))
    else:
        coll = doc_stats.agg(F.sum("dl").cast("double").alias("coll_len"))
        coll_len_c = F.col("coll_len")
    qlen = ctf.agg(F.sum(qtf_expr).cast("double").alias("qlen_iv"))

    scored = matched.join(F.broadcast(ctf), "term")
    if coll is not None:
        scored = scored.crossJoin(F.broadcast(coll))
    scored = scored.crossJoin(F.broadcast(qlen))
    if "dl" not in scored.columns:
        # collection postings denormalize dl (build_postings with_dl) —
        # then no doc-stats join is needed at all
        scored = scored.join(doc_stats.select(id_col, "dl"), id_col)
    scored = (
        scored
        .withColumn(
            "_term_component",
            qtf_expr.cast("double")
            * F.log(
                1.0
                + F.col("tf").cast("double")
                * coll_len_c
                / (F.lit(float(mu)) * F.col("ctf").cast("double"))
            ),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.sum("_term_component").alias("_s"),
        F.max("dl").alias("_dl"),
        F.max("qlen_iv").alias("_qlen"),
    )
    raw = F.col("_s") + F.col("_qlen") * F.log(
        F.lit(float(mu)) / (F.col("_dl").cast("double") + F.lit(float(mu)))
    )
    score = F.round(raw, round_to) if round_to is not None else raw
    return (
        agg.select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ql_dirichlet_topk_batch(
    queries: dict[str, str],
    k: int,
    postings: DataFrame,
    id_col: str = "doc_id",
    doc_stats: DataFrame | None = None,
    mu: float = 2000.0,
    coll_len: float | None = None,
    candidates: DataFrame | None = None,
    round_to: int | None = 6,
) -> DataFrame:
    """Dirichlet query likelihood for MANY queries in ONE postings scan
    — ``(qid, id, score)`` per-query descending, ties on id. The batch
    analog of :func:`ql_dirichlet_topk`, same shape as
    :func:`bm25_topk_batch`: the scan prunes to the UNION of the
    queries' term buckets, a broadcast (qid, term, qtf) map fans
    matched rows out, corpus term frequencies aggregate once over the
    union's rows, and one (qid, id) aggregation scores everything.
    Per-query results are IDENTICAL to the single-query operator
    (pinned by serving parity tests). Queries that tokenize to nothing
    (or whose terms are all out-of-vocabulary) are omitted.
    """
    import re

    from pyspark.sql import Window

    qtf_rows = []
    for qid, q in sorted(queries.items()):
        terms = [t for t in re.split(r"[^a-z0-9]+", q.lower()) if t]
        counts: dict[str, int] = {}
        for t in terms:
            counts[t] = counts.get(t, 0) + 1
        for t, m in sorted(counts.items()):
            qtf_rows.append((qid, t, m))
    if not qtf_rows:
        return postings.sparkSession.createDataFrame(
            [], f"qid string, {id_col} bigint, score double"
        )
    spark = postings.sparkSession
    qframe = spark.createDataFrame(qtf_rows, "qid string, term string, qtf int")
    union_terms = sorted({t for _, t, _ in qtf_rows})

    if "term_bucket" in postings.columns:
        buckets = sorted({term_bucket_py(t) for t in union_terms})
        postings = postings.filter(F.col("term_bucket").isin(buckets))
    keep = [id_col, "term", "tf"] + (["dl"] if "dl" in postings.columns else [])
    matched = postings.filter(F.col("term").isin(union_terms)).select(*keep)

    # whole-index corpus term frequencies over the union's rows — ONE
    # aggregate shared by every query; computed BEFORE any candidate
    # restriction
    ctf = matched.groupBy("term").agg(F.sum("tf").alias("ctf"))

    if candidates is not None:
        matched = matched.join(F.broadcast(candidates), id_col, "left_semi")

    if coll_len is not None:
        coll_len_c = F.lit(float(coll_len))
        coll = None
    else:
        if doc_stats is None:
            raise ValueError("doc_stats or coll_len required")
        coll = doc_stats.agg(F.sum("dl").cast("double").alias("coll_len"))
        coll_len_c = F.col("coll_len")

    # per-qid in-vocabulary query length: Σ qtf over terms present in
    # the corpus — a tiny broadcast frame
    qlen = (
        qframe.join(ctf.select("term"), "term")
        .groupBy("qid")
        .agg(F.sum("qtf").cast("double").alias("qlen_iv"))
    )

    fanned = matched.join(F.broadcast(qframe), "term").join(
        F.broadcast(ctf), "term"
    )
    if coll is not None:
        fanned = fanned.crossJoin(F.broadcast(coll))
    fanned = fanned.withColumn(
        "_term_component",
        F.col("qtf").cast("double")
        * F.log(
            1.0
            + F.col("tf").cast("double")
            * coll_len_c
            / (F.lit(float(mu)) * F.col("ctf").cast("double"))
        ),
    )
    if "dl" not in fanned.columns:
        if doc_stats is None:
            raise ValueError("doc_stats required when postings lack dl")
        fanned = fanned.join(doc_stats.select(id_col, "dl"), id_col)
    agg = (
        fanned.groupBy("qid", id_col)
        .agg(F.sum("_term_component").alias("_s"), F.max("dl").alias("_dl"))
        .join(F.broadcast(qlen), "qid")
    )
    raw = F.col("_s") + F.col("qlen_iv") * F.log(
        F.lit(float(mu)) / (F.col("_dl").cast("double") + F.lit(float(mu)))
    )
    score = F.round(raw, round_to) if round_to is not None else raw
    ranked = agg.select("qid", F.col(id_col), score.alias("score"))

    # same salted two-phase grouped top-k as bm25_topk_batch
    n_salts = 16
    w1 = Window.partitionBy("qid", "_salt").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    survivors = (
        ranked.withColumn(
            "_salt", F.pmod(F.crc32(F.col(id_col).cast("string")), F.lit(n_salts))
        )
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_salt")
    )
    w2 = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        survivors.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def bm25f_topk(
    docs: DataFrame,
    query: str,
    k: int,
    fields: dict[str, "F.Column"],
    weights: dict[str, float],
    field_b: dict[str, float] | None = None,
    id_col: str = "doc_id",
    k1: float = K1,
    conjunctive: bool = True,
    round_to: int | None = 6,
) -> DataFrame:
    """BM25F top-k: ``(id, score)`` descending, ties on id ascending.

    Robertson/Zaragoza's field-weighted BM25 ("Simple BM25F",
    Robertson & Zaragoza 2009 §3.3.2, public): per (doc, term) a
    PSEUDO-FREQUENCY sums the field tfs, each field-length-normalized
    with its own ``b`` and scaled by its weight —

        tf~(t,d) = sum_f  w_f * tf_{f} / (1 - b_f + b_f * fl_f/avgfl_f)

    — then saturates ONCE across fields: ``idf(t) * tf~ / (k1 + tf~)``
    (saturating per-field and summing would over-reward a term spread
    thinly across fields; combining frequencies first is the whole
    point of BM25F). idf and N are DOCUMENT-level (a term counts once
    per doc regardless of which fields hold it); ``avgfl_f`` averages
    over docs where the field is non-empty.

    ``fields`` maps field name → text Column (e.g. a title line split
    from the text, matching the chunk-0-is-title collection topology);
    ``weights``/``field_b`` map the same names to their weight and
    length-normalization slope (``b`` defaults to the BM25 ``B`` for
    every field).

    The reference has no field weighting (FTS5 default rank, see module
    docstring) — beyond-reference search surface.

    Scale shape: one tokenize+aggregate per field over the corpus
    (map-side combinable, union keyed by (id, term) — the same single
    shuffle family as build_postings), broadcast per-field stats, one
    TakeOrdered. No UDFs, no driver loops.
    """
    q_terms = _query_terms(query)
    if not q_terms:
        return docs.select(F.col(id_col), F.lit(0.0).alias("score")).limit(0)
    field_b = field_b or {}

    per_field = []
    for name, col in fields.items():
        toks = docs.select(
            F.col(id_col), F.explode_outer(tokenize(col)).alias("term")
        ).filter(F.col("term").isNotNull())
        tf = toks.groupBy(id_col, "term").agg(
            F.count("*").cast("bigint").alias("tf")
        )
        per_field.append(tf.withColumn("field", F.lit(name)))
    united = per_field[0]
    for t in per_field[1:]:
        united = united.unionByName(t)

    from pyspark.sql import Window

    # field length + per-field average over docs with a non-empty field
    united = united.withColumn(
        "fl", F.sum("tf").over(Window.partitionBy(id_col, "field"))
    )
    field_stats = (
        united.groupBy("field", id_col)
        .agg(F.first("fl").alias("fl"))
        .groupBy("field")
        .agg(F.avg("fl").alias("avgfl"))
    )

    n_docs = docs.select(F.count("*").alias("n_docs"))

    matched = united.filter(F.col("term").isin(q_terms)).join(
        F.broadcast(field_stats), "field"
    )
    w_expr = F.coalesce(
        *[
            F.when(F.col("field") == name, F.lit(float(w)))
            for name, w in weights.items()
        ],
        F.lit(0.0),
    )
    b_expr = F.coalesce(
        *[
            F.when(F.col("field") == name, F.lit(float(field_b.get(name, B))))
            for name in fields
        ],
        F.lit(B),
    )
    contrib = (w_expr * F.col("tf")) / (
        1 - b_expr + b_expr * F.col("fl") / F.col("avgfl")
    )
    pseudo = (
        matched.withColumn("contrib", contrib)
        .groupBy(id_col, "term")
        .agg(F.sum("contrib").alias("tfw"))
    )

    # document-level df over the matched set (a window count of docs
    # per term, same pattern as the indexed bm25_topk path)
    pseudo = pseudo.withColumn(
        "_df", F.count("*").over(Window.partitionBy("term"))
    ).crossJoin(F.broadcast(n_docs))

    idf = F.log((F.col("n_docs") - F.col("_df") + 0.5) / (F.col("_df") + 0.5))
    term_score = idf * F.col("tfw") / (F.lit(float(k1)) + F.col("tfw"))
    agg = (
        pseudo.withColumn("term_score", term_score)
        .groupBy(id_col)
        .agg(
            F.sum("term_score").alias("_score"),
            F.count("*").alias("_matched_terms"),
        )
    )
    if conjunctive:
        agg = agg.filter(F.col("_matched_terms") == len(q_terms))
    score = (
        F.round(F.col("_score"), round_to)
        if round_to is not None
        else F.col("_score")
    )
    return (
        agg.select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )
