"""Text analysis operators for corpus pipelines.

All pure Column expressions (whole-stage codegen; no UDFs):
- text_quality:  token counts, distinct-token ratio, punctuation/stopword
                 ratios, and a composite quality score.
- language_id:   marker-stopword n-gram heuristic over a small per-language
                 lexicon; returns argmax language with deterministic ties.
- doc_fingerprint: md5 content fingerprint over normalized text + coarse
                 length bucket (cheap join key for incremental dedup).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: BM25 term-frequency saturation and document-length normalization
BM25_K1 = 1.2
BM25_B = 0.75

# Tiny public marker lexicons (most-frequent function words).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "nicht", "das"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "que", "y", "las"],
    "zh": ["的", "了", "是", "我", "不"],
}


def _norm_text(col: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def _count_matches(col: Column, pattern: str) -> Column:
    """Number of regexp matches via split-length (portable counting trick)."""
    return F.size(F.split(col, pattern)) - 1


def token_count(col: Column) -> Column:
    norm = _norm_text(col)
    return F.when(norm == "", F.lit(0)).otherwise(F.size(F.split(norm, " ")))


def text_quality(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document quality features + composite score.

    Returns (id, n_chars, n_tokens, n_distinct_tokens, distinct_ratio,
    avg_token_len, punct_ratio, stopword_ratio, quality_score). The score is
    a simple interpretable blend: high distinct ratio and moderate token
    length up, punctuation floods down.
    """
    norm = _norm_text(F.col(text_col))
    tokens = F.split(norm, " ")
    n_tokens = token_count(F.col(text_col))
    n_distinct = F.size(F.array_distinct(tokens))
    n_chars = F.length(F.col(text_col))
    punct = _count_matches(F.col(text_col), r"[!?.,;:]")
    stop = F.size(
        F.filter(tokens, lambda t: t.isin(*LANG_MARKERS["en"]))
    )
    out = df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        F.round(n_distinct / F.greatest(n_tokens, F.lit(1)), 6).alias("distinct_ratio"),
        F.round(
            (F.length(norm) - (n_tokens - 1)) / F.greatest(n_tokens, F.lit(1)), 6
        ).alias("avg_token_len"),
        F.round(punct / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(stop / F.greatest(n_tokens, F.lit(1)), 6).alias("stopword_ratio"),
    )
    return out.withColumn(
        "quality_score",
        F.round(
            F.least(F.col("distinct_ratio") * 2, F.lit(1.0)) * 0.5
            + F.when((F.col("avg_token_len") >= 3) & (F.col("avg_token_len") <= 10), 0.3)
            .otherwise(0.0)
            + F.when(F.col("punct_ratio") <= 0.1, 0.2).otherwise(0.0),
            6,
        ),
    )


def language_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic language ID: count marker-word hits per language over the
    token set; argmax wins, ties broken by language code ascending;
    0 hits everywhere -> 'und'.

    Returns (id, predicted_lang, marker_hits).
    """
    norm = _norm_text(F.col(text_col))
    tokens = F.split(norm, " ")
    scores = [
        F.struct(
            F.size(F.filter(tokens, lambda t: t.isin(*words))).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in sorted(LANG_MARKERS.items())
    ]
    # argmax with deterministic ties: sort by (hits desc, lang asc) = max of
    # struct(hits, negated-lexicographic lang) — do it with array_sort.
    arr = F.array(*scores)
    best = F.array_sort(
        arr,
        lambda a, b: F.when(a["hits"] > b["hits"], -1)
        .when(a["hits"] < b["hits"], 1)
        .when(a["lang"] < b["lang"], -1)
        .when(a["lang"] > b["lang"], 1)
        .otherwise(0),
    )[0]
    return df.select(
        F.col(id_col),
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")).alias(
            "predicted_lang"
        ),
        best["hits"].alias("marker_hits"),
    )


def repetition_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Within-document repetition signals (Gopher-style quality filters):
    duplicate-line fraction, duplicate-line character fraction, and the
    fraction of word bigrams taken by the single most frequent bigram.

    Returns (id, n_lines, n_dup_lines, dup_line_frac, dup_line_char_frac,
    n_bigrams, top_bigram_count, top_bigram_frac).

    Scale design: the line stats are pure per-row array expressions
    (split/array_distinct/aggregate — whole-stage codegen, zero shuffle).
    The bigram mode genuinely needs a frequency table, so it is an
    explode → groupBy(id, bigram) → groupBy(id) pipeline: both aggregates
    partial (map-side combine), keys are (doc, bigram) so there is no hot
    key, and the doc-length quadratic of computing an in-array mode with
    ``filter`` per distinct element is avoided.
    """
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    n_lines = F.size(lines)
    n_distinct = F.size(F.array_distinct(lines))
    total_chars = F.aggregate(
        lines, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    distinct_chars = F.aggregate(
        F.array_distinct(lines), F.lit(0), lambda acc, x: acc + F.length(x)
    )
    line_stats = df.select(
        F.col(id_col),
        n_lines.cast("long").alias("n_lines"),
        (n_lines - n_distinct).cast("long").alias("n_dup_lines"),
        F.round(
            (n_lines - n_distinct) / F.greatest(n_lines, F.lit(1)), 6
        ).alias("dup_line_frac"),
        F.round(
            (total_chars - distinct_chars) / F.greatest(total_chars, F.lit(1)), 6
        ).alias("dup_line_char_frac"),
    )

    tokens = F.split(_norm_text(F.col(text_col)), " ")
    bigrams = (
        df.select(F.col(id_col), tokens.alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("tk") - 2),
                    lambda i: F.concat_ws(" ", F.col("tk")[i], F.col("tk")[i + 1]),
                )
            ).alias("bg"),
        )
    )
    bigram_stats = (
        bigrams.groupBy(id_col, "bg")
        .count()
        .groupBy(id_col)
        .agg(
            F.sum("count").alias("n_bigrams"),
            F.max("count").alias("top_bigram_count"),
        )
    )
    joined = line_stats.join(bigram_stats, on=id_col, how="left")
    return joined.select(
        id_col,
        "n_lines",
        "n_dup_lines",
        "dup_line_frac",
        "dup_line_char_frac",
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("top_bigram_count", F.lit(0)).cast("long").alias("top_bigram_count"),
        F.round(
            F.coalesce("top_bigram_count", F.lit(0))
            / F.greatest(F.coalesce("n_bigrams", F.lit(0)), F.lit(1)),
            6,
        ).alias("top_bigram_frac"),
    )


def doc_fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Content fingerprint: md5 of normalized text + pow-2 length bucket.

    Returns (id, fingerprint, len_bucket)."""
    norm = _norm_text(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fingerprint"),
        F.floor(F.log2(F.greatest(F.length(norm), F.lit(1)))).cast("int").alias(
            "len_bucket"
        ),
    )


#: GPT-2-style pre-tokenizer regex, restricted to constructs whose semantics
#: are identical in Java regex (Spark) and RE2 (DuckDB/most engines): no
#: lookahead, leftmost-first alternation, explicit ASCII classes. Pieces:
#: English contractions, space-prefixed letter runs, digit runs, punctuation
#: runs, then bare whitespace.
BPE_SPLIT_PATTERN = (
    "'(?:s|t|re|ve|m|ll|d)"
    "| ?[A-Za-z]+"
    "| ?[0-9]+"
    "| ?[^A-Za-z0-9\\s]+"
    "|\\s+"
)


def bpe_token_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Sub-word-style token accounting: count of BPE-ish pre-tokens (the
    unit LLM token budgets are estimated in — whitespace tokens excluded)
    and the distinct pre-token count. Pure per-row expressions — one narrow
    projection, no shuffle, no UDF."""
    pieces = F.regexp_extract_all(
        F.col(text_col), F.lit(BPE_SPLIT_PATTERN), F.lit(0)
    )
    nonws = F.filter(pieces, lambda p: F.trim(p) != "")
    return df.select(
        F.col(id_col),
        F.size(nonws).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(F.transform(nonws, lambda p: F.trim(p))))
        .cast("long")
        .alias("n_bpe_distinct"),
    )


def bm25_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
) -> DataFrame:
    """BM25-family relevance of every document against a fixed term query —
    the keyword-scoring primitive corpus pipelines use for quality/topic
    filtering. One row per document with ≥1 matching term:
    (id, n_matched_terms, score_micro).

    Scale shape — ZERO wide shuffles for any corpus size:
    per-document term frequencies are array-filter counts inside the row
    projection (no explode, no groupBy over tokens), and the corpus stats
    the formula needs (N, total tokens, per-term document frequencies) fold
    into ONE single-row aggregate that broadcasts back. Cost is one codegen
    scan + one partial-agg pass.

    Engine-exactness (this result is oracle-hashed, so "approximately the
    same double" is not enough): the classic ln() idf is replaced by its
    monotone rational core (N - df + 0.5)/(df + 0.5) — the same PER-TERM
    ordering (each term's contribution stays monotone in tf and rarity;
    multi-term SUMS can order differently than log-idf BM25 because the
    rational core exaggerates rare-term weight, so treat this as a
    BM25-family scorer, not a drop-in for published BM25 cutoffs) — built
    only from +,-,*,/ which IEEE-754 defines bit-exactly for every
    engine evaluating the same expression tree; and the per-term
    contributions are fixed to integer micro-units (floor(x·1e6 + 0.5))
    BEFORE summing, so the final score is an order-independent integer sum
    rather than a float accumulation."""
    norm = _norm_text(F.col(text_col))
    tokens = F.split(norm, " ")

    # Arity-1 closure factory: F.filter inspects the lambda's arity, and a
    # two-arg lambda (even with a default) would receive (element, INDEX) —
    # the index would silently shadow the term.
    def _is_term(term: str):
        return lambda x: x == F.lit(term)

    tf_cols = [
        F.size(F.filter(tokens, _is_term(t))).cast("long").alias(f"tf_{i}")
        for i, t in enumerate(query_terms)
    ]
    base = df.select(
        F.col(id_col), *tf_cols, F.size(tokens).cast("long").alias("dl")
    )
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    contribs = []
    matched = []
    for i in range(len(query_terms)):
        tf = F.col(f"tf_{i}")
        dfq = F.col(f"df_{i}")
        idf = (F.col("n_docs") - dfq + F.lit(0.5)) / (dfq + F.lit(0.5))
        denom = tf + F.lit(BM25_K1) * (
            F.lit(1.0 - BM25_B)
            + F.lit(BM25_B)
            * (F.col("dl") / (F.col("total_tokens") / F.col("n_docs")))
        )
        contrib = F.floor(
            idf * (tf * F.lit(BM25_K1 + 1.0)) / denom * F.lit(1000000.0)
            + F.lit(0.5)
        )
        contribs.append(F.when(tf > 0, contrib).otherwise(F.lit(0)))
        matched.append((tf > 0).cast("long"))
    n_matched = matched[0]
    for m in matched[1:]:
        n_matched = n_matched + m
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    return (
        scored.select(
            F.col(id_col),
            n_matched.alias("n_matched_terms"),
            score.cast("long").alias("score_micro"),
        )
        .filter(F.col("n_matched_terms") >= 1)
    )


def group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
    quantiles: list[float],
) -> DataFrame:
    """EXACT per-group quantiles of an integer metric (doc length, token
    count): for each group and q, the PERCENTILE_DISC value — the element
    at rank ⌈q·n⌉ (1-based) ordering by (value, key). Discrete selection,
    not interpolation, so the result is an actual corpus value and is
    engine-exact (no float averaging of neighbors).

    The length DISTRIBUTION is the first thing a corpus QA pass looks at
    (truncation spikes, boilerplate floors, tokenizer blowups show up here
    before any model does). One window shuffle on the group key; each row
    is kept iff its rank hits one of the |quantiles| target ranks, so
    output is |groups|·|quantiles| rows.

    Ranks use ``count(*) over (partition by group)`` + ``row_number`` in
    the same window pass; ⌈q·n⌉ is computed in integer space
    (``floor((q_ppm·n + 999_999)/1_000_000)``) to dodge float-boundary
    disagreements between engines."""
    w = Window.partitionBy(group_col).orderBy(F.col(value_col), F.col(key_col))
    wn = Window.partitionBy(group_col)
    ranked = df.select(
        group_col,
        value_col,
        key_col,
        F.row_number().over(w).alias("__rn"),
        F.count("*").over(wn).alias("__n"),
    )
    targets = [
        F.struct(
            F.lit(int(q * 1_000_000)).alias("q_ppm"),
            F.floor(
                (F.lit(int(q * 1_000_000)) * F.col("__n") + F.lit(999_999))
                / F.lit(1_000_000)
            )
            .cast("long")
            .alias("rank"),
        )
        for q in quantiles
    ]
    hits = F.filter(F.array(*targets), lambda t: t["rank"] == F.col("__rn"))
    return (
        ranked.select(
            group_col,
            value_col,
            key_col,
            F.explode(hits).alias("__t"),
        )
        .select(
            group_col,
            F.col("__t.q_ppm").alias("q_ppm"),
            F.col(value_col).alias("q_value"),
            F.col(key_col).alias("q_key"),
        )
    )


def token_rarity_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document TOKEN RARITY — the log-free, engine-exact stand-in for
    a unigram-LM surprisal prior: every vocabulary token gets its global
    rank ordered by (document frequency, token) — so the rarest tokens
    rank FIRST — and a document's score is the mean REVERSED rank
    (|vocab| − rank + 1) of its token occurrences in micro-units of the
    vocabulary size:

        rarity_micro = (Σ (|vocab| − rank(tok) + 1)) · 10⁶
                         DIV (n_occurrences · |vocab|)

    ≈ 10⁶ · mean rank percentile — near 0 for documents made entirely of
    the most corpus-common tokens (boilerplate-shaped), near 10⁶ for
    documents of corpus-rare tokens (OCR noise / non-language / genuinely
    novel text) — both tails are what a curation pass samples for review.
    Unlike idf-based surprisal there is NO logarithm anywhere (ln is not
    correctly-rounded-guaranteed across engines), so the score is pure
    integer arithmetic and bit-identical on every engine. Exactness bound:
    n_occurrences · |vocab| · 10⁶ must stay below 2⁶³ (a 10k-token doc
    against a 100M-token vocabulary is ~10¹² — comfortably inside).

    Scale shape: doc frequency is one map-side-combinable groupBy on the
    token; the vocabulary ranking uses operators/ranking.global_row_number
    (two-phase range-partitioned row number — NO single-partition window
    over the vocab); scoring is one equi-join on the token key + one
    per-doc aggregate. |vocab| comes back as a single bounded long (the
    same driver-traffic class as the semdedup k sizing).

    Returns (id_col, n_tokens, rarity_micro); documents whose normalized
    text is empty are absent (they have no occurrences to score)."""
    norm = _norm_text(F.col(text_col))
    occ = df.select(
        F.col(id_col),
        F.explode(F.split(norm, " ")).alias("__tok"),
    ).filter(F.col("__tok") != "")
    vocab = (
        occ.select(id_col, "__tok")
        .distinct()
        .groupBy("__tok")
        .agg(F.count("*").cast("long").alias("__df"))
    )
    from .ranking import global_row_number

    ranked = global_row_number(vocab, ["__df", "__tok"], "__rank")
    # own job: folding it into the plan kept text_profile_docs at 27 stages
    n_vocab = ranked.count()
    per_doc = (
        occ.join(ranked.select("__tok", "__rank"), "__tok")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.lit(n_vocab + 1) - F.col("__rank"))
            .cast("long")
            .alias("__sum_rev"),
        )
    )
    return per_doc.select(
        id_col,
        "n_tokens",
        F.expr(
            f"CAST((__sum_rev * 1000000) DIV (n_tokens * {n_vocab}) AS BIGINT)"
        ).alias("rarity_micro"),
    )
