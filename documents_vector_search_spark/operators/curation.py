"""Corpus-curation operators: repetition signals, PII redaction,
corpus-wide line dedup.

The Gopher/C4 data-pipeline trio the reference's corpus never needed
but a 100 TB training sweep always does:

- ``repetition_signals``: per-document repetition statistics (Gopher
  rules 4-8 analog: most-common-token fraction, top-2-gram fraction,
  duplicated-5-gram fraction, distinct-token ratio). Pure Column
  expressions — a corpus sweep is one scan, zero shuffles, zero Python.
- ``pii_redact``: email / IPv4 / SSN masking plus per-kind match
  counts. Map-only ``regexp_replace`` / ``regexp_count`` chains; the
  patterns are deliberately RE2-compatible so the same regex means the
  same thing in Spark (Java regex) and SQL oracles.
- ``line_dedup``: C4-style exact line deduplication across the WHOLE
  corpus — every line keeps only its first occurrence (ordered by
  (doc id, line position)); later copies are dropped and documents are
  reassembled without them.

Scale notes are on each operator; only ``line_dedup`` shuffles at all
(once by line key — with per-row unique keys for lines exempted from
dedup so degenerate hot keys like blank lines never hotspot a
partition — and once by doc id to reassemble).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from documents_vector_search_spark.functions.text import WS_RUN_RE, tokenize

# RE2-compatible (and Java-regex-compatible) PII patterns. Kept simple
# and auditable; precision tuning belongs to the caller via `patterns`.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "ssn": (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
}


def _strict_shingles(tokens: Column, n: int) -> Column:
    """Space-joined n-grams; EMPTY for docs shorter than n tokens.

    (functions/text.py word_shingles pads short docs to one shingle so
    they survive dedup; repetition stats must instead report 0 — a
    3-token doc has no 5-gram repetition.)

    Built with n O(1) ``get`` lookups per shingle, not slice+array_join
    — higher-order array functions evaluate INTERPRETED per element
    (operators/shingles.py measured slice+join ~10× slower; this is
    the same fast form as shingle_array, minus its short-doc padding).
    """
    count = F.size(tokens) - F.lit(n - 1)
    idx = F.when(count > 0, F.sequence(F.lit(0), count - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.get(tokens, i + j) for j in range(n)]),
    )


def _max_run_fraction(arr: Column) -> Column:
    """max(multiplicity of any element) / size, 0.0 for empty arrays.

    O(n log n) per row (sort + one linear ``aggregate`` pass counting
    the longest run of equal neighbours) — no explode, no shuffle, and
    no quadratic distinct×occurrences scan, so a 100 TB sweep stays a
    single map stage even for book-length documents.
    """
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("best"),
    )

    def step(acc: Column, t: Column) -> Column:
        run = F.when(t.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(
            F.lit(1).cast("bigint")
        )
        return F.struct(
            t.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    best = F.aggregate(F.array_sort(arr), acc0, step, lambda a: a["best"])
    return F.when(F.size(arr) > 0, best / F.size(arr)).otherwise(F.lit(0.0))


def repetition_signals(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dup_ngram: int = 5,
) -> DataFrame:
    """Per-document repetition statistics (Gopher repetition rules).

    ``(id, n_tokens, distinct_token_ratio, top_token_fraction,
    top_2gram_fraction, dup_5gram_fraction)``:

    - distinct_token_ratio: |distinct tokens| / |tokens| (low = loopy)
    - top_token_fraction: multiplicity of the most frequent token / n
    - top_2gram_fraction: same for word 2-grams
    - dup_5gram_fraction: fraction of 5-grams occurring more than once
      within the document (1 - distinct/total)

    Everything is a Column expression over per-row arrays — the sweep
    compiles to one codegen'd scan with no shuffle and no Python.
    """
    toks = docs.select(F.col(id_col), tokenize(text_col).alias("_toks"))
    staged = toks.select(
        F.col(id_col),
        F.col("_toks"),
        _strict_shingles(F.col("_toks"), 2).alias("_g2"),
        _strict_shingles(F.col("_toks"), dup_ngram).alias("_gn"),
    )
    n = F.size(F.col("_toks"))
    gn_total = F.size(F.col("_gn"))
    dup_frac = F.when(
        gn_total > 0,
        1.0 - F.size(F.array_distinct(F.col("_gn"))) / gn_total,
    ).otherwise(F.lit(0.0))
    return staged.select(
        F.col(id_col),
        n.cast("bigint").alias("n_tokens"),
        F.round(
            F.when(n > 0, F.size(F.array_distinct(F.col("_toks"))) / n).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("distinct_token_ratio"),
        F.round(_max_run_fraction(F.col("_toks")), 6).alias("top_token_fraction"),
        F.round(_max_run_fraction(F.col("_g2")), 6).alias("top_2gram_fraction"),
        F.round(dup_frac, 6).alias(f"dup_{dup_ngram}gram_fraction"),
    )



# Gopher's required stop-word list (Rae et al. 2021 §A1.1): a document
# must contain at least min_stop_hits DISTINCT words of this list.
GOPHER_STOP_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

# line-format bullet markers (Gopher counts bullet-started lines)
_BULLET_CHARS = ("•", "-", "*")


def gopher_rules(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher document-format quality gates (Rae et al. 2021 §A1.1 —
    public rules; the document-level complement of
    :func:`repetition_signals`' repetition rules).

    Per document: ``(id, n_words, mean_word_len, symbol_ratio,
    bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
    n_stop_hits, keep)`` where ``keep`` is the conjunction of the
    published thresholds (each parameterizable). Word statistics use
    WHITESPACE words (punctuation attached, as Gopher counts them);
    stop-word presence uses the engine tokenizer (functions/text.py) so
    "the," still hits "the". All ratios round to 6 before the
    threshold comparison — keep/drop is engine-reproducible.

    Scale: every signal is a Column expression over per-row arrays —
    the corpus sweep is ONE codegen'd scan, no shuffle, no Python.
    """
    stats = _gopher_stats(docs, id_col, text_col)
    keep = _gopher_keep(
        min_words, max_words, min_mean_word_len, max_mean_word_len,
        max_symbol_ratio, max_bullet_line_frac, max_ellipsis_line_frac,
        min_alpha_word_frac, min_stop_hits,
    )
    return stats.select(
        F.col(id_col),
        "n_words", "mean_word_len", "symbol_ratio", "bullet_line_frac",
        "ellipsis_line_frac", "alpha_word_frac", "n_stop_hits",
    ).withColumn("keep", keep)


def gopher_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
    keep_tokens: str | None = None,
) -> DataFrame:
    """Pass-through Gopher gate: the ORIGINAL doc rows (all columns)
    that survive the :func:`gopher_rules` keep conjunction — the form a
    composed prep pipeline stages inline (filter on the computed stats,
    no self-join back to the corpus, still one map-only scan).

    ``keep_tokens`` (a column name) additionally emits the engine
    token array the gate already computed for its stop-word signal —
    a downstream stage that needs tokens of the SURVIVORS (the
    composed corpus-prep's quality/decontamination tiers) reuses them
    instead of paying a second corpus tokenize."""
    stats = _gopher_stats(docs, id_col, text_col)
    keep = _gopher_keep(
        min_words, max_words, min_mean_word_len, max_mean_word_len,
        max_symbol_ratio, max_bullet_line_frac, max_ellipsis_line_frac,
        min_alpha_word_frac, min_stop_hits,
    )
    cols = list(docs.columns)
    if keep_tokens is not None:
        cols.append(F.col("_t").alias(keep_tokens))
    return stats.filter(keep).select(*cols)


def _gopher_keep(
    min_words, max_words, min_mean_word_len, max_mean_word_len,
    max_symbol_ratio, max_bullet_line_frac, max_ellipsis_line_frac,
    min_alpha_word_frac, min_stop_hits,
) -> Column:
    """The keep conjunction over :func:`_gopher_stats`' rounded stat
    columns (round-before-compare: engine-reproducible)."""
    return (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_ratio") <= max_symbol_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_line_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("n_stop_hits") >= min_stop_hits)
    )


def _gopher_stats(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """All input columns plus the seven rounded Gopher stat columns."""
    words = F.filter(
        F.split(F.col(text_col), WS_RUN_RE), lambda w: w != F.lit("")
    )
    lines = F.split(F.col(text_col), "\n")
    staged = docs.select(
        *docs.columns,
        words.alias("_w"),
        lines.alias("_l"),
        tokenize(text_col).alias("_t"),
    )
    w, l = F.col("_w"), F.col("_l")
    n_words = F.size(w)
    n_lines = F.size(l)  # split() yields >=1 element, never 0
    mean_len = F.when(
        n_words > 0,
        F.aggregate(w, F.lit(0.0), lambda acc, x: acc + F.length(x))
        / n_words,
    ).otherwise(F.lit(0.0))
    hash_count = F.length(F.col(text_col)) - F.length(
        F.replace(F.col(text_col), F.lit("#"), F.lit(""))
    )
    ellipsis_count = (
        F.length(F.col(text_col))
        - F.length(F.replace(F.col(text_col), F.lit("..."), F.lit("")))
    ) / 3
    symbol_ratio = F.when(
        n_words > 0, (hash_count + ellipsis_count) / n_words
    ).otherwise(F.lit(0.0))
    bullet_frac = (
        F.size(
            F.filter(
                l,
                lambda x: F.substring(F.ltrim(x), 1, 1).isin(
                    *_BULLET_CHARS
                ),
            )
        )
        / n_lines
    )
    ellipsis_frac = (
        F.size(
            F.filter(
                l,
                lambda x: F.rtrim(x).endswith("...")
                | F.rtrim(x).endswith("…"),
            )
        )
        / n_lines
    )
    alpha_frac = F.when(
        n_words > 0,
        F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]"))) / n_words,
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.col("_t")),
            F.array(*[F.lit(s) for s in GOPHER_STOP_WORDS]),
        )
    )

    return staged.select(
        *docs.columns,
        F.col("_t"),  # engine tokens, reusable downstream (gopher_filter)
        n_words.cast("bigint").alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(bullet_frac, 6).alias("bullet_line_frac"),
        F.round(ellipsis_frac, 6).alias("ellipsis_line_frac"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        stop_hits.cast("int").alias("n_stop_hits"),
    )


# C4 terminal punctuation (Raffel et al. 2020 §2.2): a retained line
# must end in one of these
_C4_TERMINALS = (".", "!", "?", '"')


def c4_rules(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_sentences: int = 3,
) -> DataFrame:
    """C4 page-cleaning heuristics (Raffel et al. 2020 §2.2 — public
    rules; the tier BELOW :func:`gopher_rules` in the heuristic stack).

    Line retention: a line survives iff its right-trimmed form ends in
    terminal punctuation (``. ! ? "``), it has at least
    ``min_words_per_line`` whitespace words, and its lowercase form
    does not contain ``javascript`` (the cookie/enable-JS boilerplate
    marker). ``clean_text`` is the surviving lines joined by ``\\n``.

    Page gates: ``keep`` requires at least ``min_sentences`` sentence
    terminators (``. ! ?`` occurrences in the cleaned text — C4 counts
    sentences on the retained page), no ``lorem ipsum``, and no ``{``
    (code marker) anywhere in the ORIGINAL text.

    Output: ``(id, n_lines, n_kept_lines, n_sentences, has_lorem,
    has_brace, clean_text, keep)``. Every signal is a Column
    expression over the per-row line array — one codegen'd scan, no
    shuffle, no Python; the span-level three-sentence dedup C4 pairs
    with these rules is the separate :mod:`span dedup <documents_vector_search_spark.operators.dedup>`
    operator.
    """
    lines = F.split(F.col(text_col), "\n")
    keep_line = (
        lambda x: F.rtrim(x).rlike(r'[.!?"]$')
        & (
            F.size(
                F.filter(
                    F.split(x, WS_RUN_RE), lambda w: w != F.lit("")
                )
            )
            >= min_words_per_line
        )
        & ~F.lower(x).contains("javascript")
    )
    staged = docs.select(
        F.col(id_col),
        F.col(text_col),
        lines.alias("_l"),
        F.filter(lines, keep_line).alias("_k"),
    )
    clean = F.array_join(F.col("_k"), "\n")
    n_sent = F.regexp_count(clean, F.lit(r"[.!?]")).cast("bigint")
    has_lorem = F.lower(F.col(text_col)).contains("lorem ipsum")
    has_brace = F.col(text_col).contains("{")
    return staged.select(
        F.col(id_col),
        F.size(F.col("_l")).cast("bigint").alias("n_lines"),
        F.size(F.col("_k")).cast("bigint").alias("n_kept_lines"),
        n_sent.alias("n_sentences"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        clean.alias("clean_text"),
        (
            (n_sent >= min_sentences) & ~has_lorem & ~has_brace
        ).alias("keep"),
    )


def pii_redact(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    patterns: dict[str, tuple[str, str]] | None = None,
) -> DataFrame:
    """Mask PII spans and count matches per kind.

    ``(id, clean_text, n_<kind>...)`` — one ``regexp_count`` plus one
    ``regexp_replace`` per kind, applied in ``patterns`` insertion
    order (email before ipv4 matters: an address is counted once as an
    email, and its digits never re-match as a phone/IP fragment).
    Map-only: a 100 TB scrub is a single scan stage.
    """
    pats = patterns if patterns is not None else PII_PATTERNS
    cleaned = F.col(text_col)
    counts = []
    for kind, (pattern, replacement) in pats.items():
        counts.append(
            F.regexp_count(cleaned, F.lit(pattern))
            .cast("bigint")
            .alias(f"n_{kind}")
        )
        cleaned = F.regexp_replace(cleaned, pattern, replacement)
    return docs.select(
        F.col(id_col), cleaned.alias("clean_text"), *counts
    )


def curation_sweep(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EVERY map-only curation signal in ONE scan.

    Fuses language ID, quality scoring, token counts, repetition
    signals and the rolling-hash fingerprint into a single staged
    projection: the token array (and each derived n-gram array) is
    computed once per row and shared by all signals, and the physical
    plan is one Exchange-free pass over ``documents`` — at 100 TB the
    whole curation profile costs exactly one read of the corpus,
    instead of five (asserted in tests/test_curation.py).

    Output = the union of the individual operators' columns (same
    names, same values — each stays oracle-checked on its own).
    """
    from documents_vector_search_spark.functions.hashing import md5_hash64
    from documents_vector_search_spark.operators.text_analysis import (
        LANG_MARKERS,
        _marker_ratio,
    )

    staged = docs.select(
        F.col(id_col),
        F.col(text_col),
        tokenize(text_col).alias("_toks"),
    )
    toks = F.col("_toks")
    staged2 = staged.select(
        F.col(id_col),
        F.col(text_col),
        toks,
        _strict_shingles(toks, 2).alias("_g2"),
        _strict_shingles(toks, 5).alias("_gn"),
        # 3-word shingles, short-doc-padded like fingerprint()
        # (concat_ws skips the NULL gets past the end = the padding)
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - 2, F.lit(1)) - 1),
            lambda i: F.concat_ws(
                " ", F.get(toks, i), F.get(toks, i + 1), F.get(toks, i + 2)
            ),
        ).alias("_g3"),
        F.sort_array(
            F.array(
                *[
                    F.struct(
                        F.round(_marker_ratio(toks, m), 6).alias("score"),
                        F.lit(lang).alias("lang"),
                    )
                    for lang, m in sorted(LANG_MARKERS.items())
                ]
            ),
            asc=False,
        )[0].alias("_best"),
    )

    n = F.size(toks)
    n_chars = F.length(F.col(text_col))
    avg_tok = F.when(
        n > 0,
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)) / n,
    ).otherwise(F.lit(0.0))
    alpha = F.length(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z]", ""))
    alpha_ratio = F.when(n_chars > 0, alpha / n_chars).otherwise(F.lit(0.0))
    stop_ratio = _marker_ratio(toks, LANG_MARKERS["en"])
    length_score = F.least(n / F.lit(100.0), F.lit(1.0))
    stop_score = F.least(stop_ratio * 5, F.lit(1.0))
    ws_tokens = F.size(
        F.filter(F.split(F.col(text_col), WS_RUN_RE), lambda t: t != "")
    )
    bpe = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("bigint"),
    )
    gn_total = F.size(F.col("_gn"))

    return staged2.select(
        F.col(id_col),
        F.when(F.col("_best.score") > 0, F.col("_best.lang"))
        .otherwise(F.lit("und"))
        .alias("lang_guess"),
        F.col("_best.score").alias("lang_score"),
        n_chars.cast("bigint").alias("n_chars"),
        n.cast("bigint").alias("n_tokens"),
        F.round(avg_tok, 6).alias("avg_token_len"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round((length_score + alpha_ratio + stop_score) / 3, 6).alias(
            "quality"
        ),
        ws_tokens.cast("bigint").alias("ws_tokens"),
        bpe.alias("bpe_estimate"),
        F.round(
            F.when(n > 0, F.size(F.array_distinct(toks)) / n).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("distinct_token_ratio"),
        F.round(_max_run_fraction(toks), 6).alias("top_token_fraction"),
        F.round(_max_run_fraction(F.col("_g2")), 6).alias("top_2gram_fraction"),
        F.round(
            F.when(
                gn_total > 0,
                1.0 - F.size(F.array_distinct(F.col("_gn"))) / gn_total,
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_5gram_fraction"),
        F.array_min(
            F.transform(F.col("_g3"), lambda s: md5_hash64(s))
        ).alias("fingerprint"),
    )


def fit_unigram_lm(
    docs: DataFrame,
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Fit an add-alpha-smoothed unigram language model on a corpus.

    Returns ``(term, lp_u)`` where lp_u is the term's negative log2
    probability in exact integer micro-units
    (``floor(-log2(p) * 1e6 + 0.5)``) — integer units make downstream
    per-document SUMS order-independent, the same exact-arithmetic
    idiom as the engine's money sums (registry determinism rules).

    Cost: one explode + one term-key shuffle (the shape of a postings
    build); corpus totals ride in via a broadcast 1-row cross join,
    never a driver collect.
    """
    # explode_outer + IsNotNull: see vocab_stats (InferFilters blowup)
    t = docs.select(F.explode_outer(tokenize(text_col)).alias("term")).filter(
        F.col("term").isNotNull()
    )
    tf = t.groupBy("term").agg(F.count("*").alias("c"))
    totals = tf.agg(
        F.sum("c").cast("double").alias("_n"),
        F.count("*").cast("double").alias("_v"),
    )
    p = (F.col("c") + F.lit(alpha)) / (F.col("_n") + F.lit(alpha) * F.col("_v"))
    lp_u = F.floor(-F.log2(p) * 1e6 + F.lit(0.5)).cast("bigint")
    return tf.crossJoin(F.broadcast(totals)).select(
        "term", lp_u.alias("lp_u")
    )


def perplexity_score(
    docs: DataFrame,
    lm: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    oov_lp_u: int | None = None,
) -> DataFrame:
    """Per-document unigram perplexity under ``lm`` — the CCNet-style
    LM quality signal (low perplexity = in-distribution text).

    ``(id, n_tokens, ppl)`` with ``ppl = 2^(mean lp)``; empty documents
    score 0.0. Unknown terms take ``oov_lp_u`` when given, else are
    DROPPED from the mean (exact when the LM was fit on the same
    corpus, where every term is known).

    Cost: one explode + one term-key join (broadcast-able for bounded
    vocabularies) + one doc-key aggregation — no driver loops, no UDFs.
    """
    t = docs.select(
        F.col(id_col), F.explode_outer(tokenize(text_col)).alias("term")
    ).filter(F.col("term").isNotNull())
    joined = t.join(lm, "term", "left" if oov_lp_u is not None else "inner")
    if oov_lp_u is not None:
        joined = joined.withColumn(
            "lp_u", F.coalesce(F.col("lp_u"), F.lit(int(oov_lp_u)))
        )
    ds = joined.groupBy(id_col).agg(
        F.sum("lp_u").alias("_s"), F.count("*").alias("n_tokens")
    )
    return (
        docs.select(F.col(id_col))
        .join(ds, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias(
                "n_tokens"
            ),
            F.round(
                F.when(
                    F.col("n_tokens") > 0,
                    F.pow(
                        F.lit(2.0),
                        (F.col("_s").cast("double") / 1e6) / F.col("n_tokens"),
                    ),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("ppl"),
        )
    )


def fit_bigram_lm(
    docs: DataFrame,
    text_col: str = "text",
    alpha: float = 0.5,
    lam: float = 0.7,
) -> tuple[DataFrame, DataFrame]:
    """Fit a Jelinek-Mercer-interpolated bigram language model —
    ``p(w2|w1) = lam * p_bi(w2|w1) + (1-lam) * p_uni(w2)`` with
    add-alpha smoothing inside each component (the classic n-gram LM
    construction; Jelinek & Mercer 1980, public).

    Returns ``(bigrams, fallback)``:

    * ``bigrams (w1, w2, lp2_u)`` — the INTERPOLATED negative log2
      probability in exact integer micro-units (same quantized-sum
      idiom as :func:`fit_unigram_lm`), one row per corpus bigram;
    * ``fallback (term, lp_fb_u)`` — ``-log2((1-lam) * p_uni(term))``,
      the score of a bigram never seen in training (its p_bi term is
      taken as 0) — scoring joins this by the SECOND word when the
      bigram lookup misses.

    Context counts are bigram-exact (occurrences of ``w1`` as a left
    element, NOT its unigram count — last tokens of documents start no
    bigram). Cost: one explode per component with term-keyed shuffles
    (the postings-build shape); corpus totals ride broadcast 1-row
    joins.
    """
    toks = docs.select(tokenize(text_col).alias("toks"))
    uni = toks.select(F.explode_outer("toks").alias("term")).filter(
        F.col("term").isNotNull()
    )
    tf = uni.groupBy("term").agg(F.count("*").alias("c"))
    totals = tf.agg(
        F.sum("c").cast("double").alias("_n"),
        F.count("*").cast("double").alias("_v"),
    )
    p_uni = (F.col("c") + F.lit(alpha)) / (
        F.col("_n") + F.lit(alpha) * F.col("_v")
    )
    unigram = tf.crossJoin(F.broadcast(totals)).select(
        "term", p_uni.alias("_p_uni"), F.col("_v")
    )

    pairs = (
        toks.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("toks"), 1, F.size("toks") - 1).alias("w1"),
                    F.slice(
                        F.col("toks"), 2, F.size("toks") - 1
                    ).alias("w2"),
                )
            ).alias("pr")
        )
        .select(F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
    )
    c2 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = pairs.groupBy("w1").agg(F.count("*").alias("c1"))
    p_bi = (F.col("c2") + F.lit(alpha)) / (
        F.col("c1") + F.lit(alpha) * F.col("_v")
    )
    p_interp = F.lit(lam) * p_bi + F.lit(1.0 - lam) * F.col("_p_uni")
    bigrams = (
        c2.join(c1, "w1")
        .join(unigram.select(F.col("term").alias("w2"), "_p_uni", "_v"), "w2")
        .select(
            "w1",
            "w2",
            F.floor(-F.log2(p_interp) * 1e6 + F.lit(0.5))
            .cast("bigint")
            .alias("lp2_u"),
        )
    )
    fallback = unigram.select(
        "term",
        F.floor(
            -F.log2(F.lit(1.0 - lam) * F.col("_p_uni")) * 1e6 + F.lit(0.5)
        )
        .cast("bigint")
        .alias("lp_fb_u"),
    )
    return bigrams, fallback


def perplexity_bigram_score(
    docs: DataFrame,
    unigram_lm: DataFrame,
    bigram_lm: DataFrame,
    fallback_lm: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    oov_lp_micro: int | None = None,
) -> DataFrame:
    """Per-document perplexity under the interpolated bigram LM —
    ``(id, n_tokens, ppl)``, ``ppl = 2^(mean lp)`` over all tokens:
    the FIRST token of a document scores by the unigram model (it has
    no context), every later token by the interpolated bigram with the
    unseen-bigram fallback. Empty documents score 0.0.

    Out-of-vocabulary handling: with ``oov_lp_micro=None`` (default)
    the scored documents MUST share the LM's training vocabulary —
    tokens outside it are dropped from both the log-prob sum and
    ``n_tokens`` (the registry's self-scoring use). To score text from
    outside the training corpus, pass an explicit OOV log2-prob in
    micro-units (e.g. the LM's add-alpha unseen mass); unknown tokens
    then take that penalty instead of silently vanishing.

    Cost: one explode for first tokens + one for pairs, a (w1, w2)
    lookup join (term-keyed shuffle, broadcast-able for bounded
    vocabularies), one doc-key aggregation. No UDFs, no driver loops.
    """
    base = docs.select(F.col(id_col), tokenize(text_col).alias("toks"))
    oov = (
        F.lit(int(oov_lp_micro)).cast("bigint")
        if oov_lp_micro is not None
        else None
    )
    firsts = base.filter(F.size("toks") >= 1).select(
        F.col(id_col), F.element_at("toks", 1).alias("term")
    )
    if oov is None:
        firsts = firsts.join(unigram_lm, "term").select(
            F.col(id_col), F.col("lp_u").alias("lp")
        )
    else:
        firsts = firsts.join(unigram_lm, "term", "left").select(
            F.col(id_col), F.coalesce(F.col("lp_u"), oov).alias("lp")
        )
    pairs = (
        base.filter(F.size("toks") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("toks"), 1, F.size("toks") - 1).alias("w1"),
                    F.slice(
                        F.col("toks"), 2, F.size("toks") - 1
                    ).alias("w2"),
                )
            ).alias("pr"),
        )
        .select(
            F.col(id_col),
            F.col("pr.w1").alias("w1"),
            F.col("pr.w2").alias("w2"),
        )
    )
    fb = fallback_lm.select(F.col("term").alias("w2"), "lp_fb_u")
    if oov is None:
        scored_pairs = (
            pairs.join(bigram_lm, ["w1", "w2"], "left")
            .join(fb, "w2")
            .select(
                F.col(id_col),
                F.coalesce(F.col("lp2_u"), F.col("lp_fb_u")).alias("lp"),
            )
        )
    else:
        scored_pairs = (
            pairs.join(bigram_lm, ["w1", "w2"], "left")
            .join(fb, "w2", "left")
            .select(
                F.col(id_col),
                F.coalesce(
                    F.col("lp2_u"), F.col("lp_fb_u"), oov
                ).alias("lp"),
            )
        )
    per_doc = (
        firsts.unionByName(scored_pairs)
        .groupBy(id_col)
        .agg(F.sum("lp").alias("_s"), F.count("*").alias("n_tokens"))
    )
    return (
        docs.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias(
                "n_tokens"
            ),
            F.round(
                F.when(
                    F.col("n_tokens") > 0,
                    F.pow(
                        F.lit(2.0),
                        (F.col("_s").cast("double") / 1e6) / F.col("n_tokens"),
                    ),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("ppl"),
        )
    )


def vocab_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 100,
    ngram: int = 1,
) -> DataFrame:
    """Top-k corpus n-grams by frequency — the tokenizer-training /
    stopword-mining sweep (BPE merges start from exactly these counts).

    ``(term, n, doc_freq)`` ordered by count desc (ties lexically) —
    a deterministic total order, so top-k is reproducible on any
    engine. One explode + one term-key shuffle with map-side partial
    aggregation; the top-k is TakeOrderedAndProject (per-partition
    heaps + driver merge), never a global sort.
    """
    # two staging rules (measured; OPTIMIZATION_r12.md §1 and §7):
    # (1) tokenize is projected ONCE — the shingle lambda references it
    #     2n+2 times and Spark does not CSE repeated subtrees;
    # (2) explode_outer, not explode: InferFiltersFromGenerate adds a
    #     size>0 AND isnotnull filter that re-evaluates the ENTIRE
    #     gram-building tree twice per row for plain explode. The
    #     null rows it emits instead are dropped with a cheap IsNotNull
    #     on the already-generated column. 3x faster at sf0.1.
    staged = docs.select(
        F.col(id_col).alias("_doc"), tokenize(text_col).alias("_t")
    )
    grams = F.col("_t") if ngram == 1 else _strict_shingles(F.col("_t"), ngram)
    t = (
        staged.select("_doc", grams.alias("_g"))
        .select("_doc", F.explode_outer("_g").alias("term"))
        .filter(F.col("term").isNotNull())
    )
    counts = t.groupBy("term").agg(
        F.count("*").cast("bigint").alias("n"),
        F.count_distinct("_doc").cast("bigint").alias("doc_freq"),
    )
    return counts.orderBy(F.col("n").desc(), F.col("term").asc()).limit(top_k)


def pack_sequences(
    docs: DataFrame,
    token_budget: int,
    n_shards: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 0,
) -> DataFrame:
    """Assign documents to fixed-token-budget training packs.

    The batch-prep step of an LLM data pipeline: downstream training
    wants sequences of ~``token_budget`` tokens built by concatenating
    documents. True first-fit packing is inherently sequential, so the
    distributed form shards documents by hash (uniform, deterministic)
    and packs WITHIN each shard by running token count in stable
    (id) order:

        ``pack_id = floor((cumsum_before_doc) / token_budget)``

    ``(id, n_tokens, shard, pack_id, pack_offset)`` — pack_offset is
    the document's token start position inside its pack's budget
    window. A document longer than the budget still lands in one pack
    (slicing over-long docs is the chunker's job, not the packer's).

    Scale: the only shuffle is the shard-partitioned window — n_shards
    independent cumsums, each a single-pass running sum; no global
    sort anywhere. Deterministic across engines: the shard hash is
    md5-derived and the order key is the document id.
    """
    from documents_vector_search_spark.functions.hashing import md5_hash64

    if token_budget < 1 or n_shards < 1:
        raise ValueError("need token_budget >= 1 and n_shards >= 1")
    staged = docs.select(
        F.col(id_col),
        F.size(tokenize(text_col)).cast("bigint").alias("n_tokens"),
        F.pmod(
            md5_hash64(F.concat(F.col(id_col).cast("string"),
                                F.lit(str(seed)))),
            F.lit(n_shards),
        ).cast("int").alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return staged.select(
        F.col(id_col),
        "n_tokens",
        "shard",
        F.floor((cum - F.col("n_tokens")) / F.lit(token_budget))
        .cast("bigint")
        .alias("pack_id"),
        F.pmod(cum - F.col("n_tokens"), F.lit(token_budget))
        .cast("bigint")
        .alias("pack_offset"),
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_len: int = 1,
    line_sep: str = r"\r\n|\r|\n",
    out_sep: str = "\n",
) -> DataFrame:
    """C4-style exact line dedup across the whole corpus.

    Each distinct line is kept only at its FIRST occurrence — minimal
    (id, line position) in corpus order — and dropped everywhere else;
    documents are reassembled from their surviving lines in original
    order. ``(id, text, n_lines_kept, n_lines_removed)``; a document
    whose every line is a later duplicate survives with empty text.

    Lines shorter than ``min_line_len`` are exempt (always kept):
    blank lines and trivial separators are structure, not content —
    and, critically for scale, they are exactly the degenerate hot
    keys that would funnel a corpus-wide shuffle into one partition.
    Exempt lines get a per-row unique partition key, so the line-key
    shuffle stays uniform no matter how many blank lines exist.

    Cost: one shuffle keyed by line text (window row_number) + one
    keyed by document id (reassembly groupBy). Both keys are
    high-cardinality by construction.
    """
    lines = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode_outer(F.split(F.col(text_col), line_sep, -1)).alias(
            "_pos", "_line"
        ),
    ).filter(F.col("_line").isNotNull())
    eligible = F.length(F.col("_line")) >= min_line_len
    part_key = F.when(eligible, F.col("_line")).otherwise(
        F.concat_ws(chr(1), F.col("_id").cast("string"), F.col("_pos"))
    )
    w = Window.partitionBy(part_key).orderBy(F.col("_id"), F.col("_pos"))
    kept = (
        lines.withColumn("_rn", F.row_number().over(w))
        .filter((~eligible) | (F.col("_rn") == 1))
        .groupBy(F.col("_id"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_pos"), F.col("_line")))
            ).alias("_arr")
        )
        .select(
            F.col("_id"),
            F.array_join(
                F.transform(F.col("_arr"), lambda x: x["_line"]), out_sep
            ).alias("_clean"),
            F.size(F.col("_arr")).cast("bigint").alias("n_lines_kept"),
        )
    )
    totals = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), line_sep, -1))
        .cast("bigint")
        .alias("_n_total"),
    )
    return (
        totals.join(kept, totals[id_col] == kept["_id"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_clean"), F.lit("")).alias("text"),
            F.coalesce(F.col("n_lines_kept"), F.lit(0)).alias("n_lines_kept"),
            (F.col("_n_total") - F.coalesce(F.col("n_lines_kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_lines_removed"),
        )
    )


def boilerplate_strip(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_pct: int = 5,
    min_df: int = 2,
    min_line_len: int = 1,
    line_sep: str = r"\r\n|\r|\n",
    out_sep: str = "\n",
) -> DataFrame:
    """Corpus-frequency boilerplate removal: drop every line that
    appears in more than ``max_doc_pct`` percent of documents (and at
    least ``min_df`` documents) — headers, footers, cookie banners,
    nav chrome: the lines whose very ubiquity proves they are not
    content. The frequency-threshold complement of line_dedup (which
    keeps FIRST occurrences; this keeps NONE of a too-common line).
    ``(id, text, n_lines_kept, n_lines_removed)``.

    The threshold compare is pure integers (df·100 ≥ pct·N) — no
    float boundary at the cut. Lines shorter than ``min_line_len``
    are exempt (structure, not content — and the degenerate hot keys
    a line-keyed shuffle must not funnel into one partition).

    Cost: one line-keyed distinct+aggregate for document frequencies
    (map-side combinable), one line-keyed join to flag (the boilerplate
    side is small by construction — only lines crossing the ubiquity
    threshold — so AQE broadcasts it), one doc-keyed reassembly.
    """
    lines = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode_outer(F.split(F.col(text_col), line_sep, -1)).alias(
            "_pos", "_line"
        ),
    ).filter(F.col("_line").isNotNull())
    eligible = F.length(F.col("_line")) >= min_line_len
    line_df = (
        lines.filter(eligible)
        .select("_id", "_line")
        .distinct()
        .groupBy("_line")
        .agg(F.count("*").cast("bigint").alias("_df"))
    )
    n_docs = docs.agg(F.count("*").cast("bigint").alias("_n"))
    boiler = (
        line_df.crossJoin(F.broadcast(n_docs))
        .filter(
            (F.col("_df") >= min_df)
            & (F.col("_df") * 100 >= F.lit(max_doc_pct) * F.col("_n"))
        )
        .select("_line", F.lit(True).alias("_is_b"))
    )
    flagged = lines.join(boiler, "_line", "left")
    kept_struct = F.when(
        F.col("_is_b").isNull(), F.struct(F.col("_pos"), F.col("_line"))
    )
    agg = flagged.groupBy("_id").agg(
        F.array_sort(F.collect_list(kept_struct)).alias("_arr"),
        F.sum(F.when(F.col("_is_b"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_lines_removed"),
    )
    totals = docs.select(F.col(id_col))
    return (
        totals.join(agg, totals[id_col] == agg["_id"], "left")
        .select(
            F.col(id_col),
            F.coalesce(
                F.array_join(
                    F.transform(F.col("_arr"), lambda x: x["_line"]), out_sep
                ),
                F.lit(""),
            ).alias("text"),
            F.coalesce(F.size("_arr"), F.lit(0))
            .cast("bigint")
            .alias("n_lines_kept"),
            F.coalesce(F.col("n_lines_removed"), F.lit(0))
            .cast("bigint")
            .alias("n_lines_removed"),
        )
    )
