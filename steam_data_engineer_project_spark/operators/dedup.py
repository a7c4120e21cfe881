"""Deduplication operators for large-scale corpora.

All operators are pure DataFrame compositions — shuffles only where the
semantics require them (groupBy on a hash key, or an inverted-index
self-join), no Python UDFs in the hot path:

- exact_dedup:          hash-groupBy; one shuffle on the content hash.
- ngram_jaccard_pairs:  word-shingle inverted index self-join; shuffle on the
                        shingle key (small), never a cartesian product.
- minhash_signatures /
  minhash_lsh_candidates: MinHash over shingles with md5-derived hash
                        families, banded LSH bucketing; candidate pairs come
                        from a bucket equi-join, so the cost scales with
                        bucket collision counts, not n².
- simhash_fingerprints: 64-bit SimHash from per-token md5 bits.

At 100 TB: every stage is a scan + a keyed shuffle whose key cardinality is
large (hash/shingle/bucket), so there is no driver-side state and skew only
appears for pathological shingles (stopword-only shingles are the classic
case — callers can pre-filter; LSH band hashing redistributes them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: line separator of the line-level operators
LINE_DELIM = "\n"
#: ``minhash_lsh_candidates`` keeps pairs whose estimated Jaccard is at least
#: this (0.0: every band collision)
MIN_JACCARD_EST = 0.0
#: SimHash fingerprint width: one signed long
SIMHASH_BITS = 64


def _normalized(col):
    """Canonical text form used for content hashing: lowercase, collapsed
    whitespace, trimmed."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def normalized_hashes(df: DataFrame, text_col: str) -> DataFrame:
    """DISTINCT md5 hashes of the canonical text form — the exact-tier
    ARTIFACT an incremental pipeline stores (append each admitted batch's
    hashes; serve :func:`incremental_dedup_verdicts` from the store instead
    of rescanning the corpus). One column ``h``; same :func:`_normalized`
    canonicalization as :func:`exact_dedup`, so store-served verdicts agree
    with batch exact-dedup on what a duplicate is. Append-then-distinct is
    exactly rescan-distinct (set union), so the stored form loses nothing.
    """
    return df.select(F.md5(_normalized(F.col(text_col))).alias("h")).distinct()


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact near-literal dedup: md5 over normalized text, keep the lowest id
    per content group.

    Returns (id_col, text_hash, n_copies) with one row per distinct content.
    One shuffle (groupBy text_hash); partial aggregation is map-side.
    """
    hashed = df.select(
        F.col(id_col), F.md5(_normalized(F.col(text_col))).alias("text_hash")
    )
    return hashed.groupBy("text_hash").agg(
        F.min(id_col).alias(id_col), F.count("*").alias("n_copies")
    ).select(id_col, "text_hash", "n_copies")


def _word_shingles(tokens_col, n: int = 3):
    """Array of n-word shingles (space-joined) from a token-array column.

    ``tokens_col`` MUST be a materialized column reference (select the split
    into a column first), never an inline ``split(...)`` expression: lambda
    bodies in higher-order functions re-evaluate captured expression trees
    per element, which turns an inline split into O(tokens²) regex work per
    document (measured 5× slowdown at sf0.1).
    """
    k = F.greatest(F.size(tokens_col) - (n - 1), F.lit(0))
    # 1-based start positions 1..k; shingle i = tokens[i..i+n-1] joined by ' '
    idx = F.sequence(F.lit(1), k)
    return F.when(k <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(tokens_col, (i + j).cast("int")) for j in range(n)]
            ),
        )
    )


def _exploded_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, shingle) rows — tokens materialized once per row, then exploded."""
    toks = df.select(
        F.col(id_col), F.split(_normalized(F.col(text_col)), " ").alias("__toks")
    )
    return toks.select(
        F.col(id_col), F.explode(_word_shingles(F.col("__toks"), n)).alias("shingle")
    )


def shingle_table(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Exploded distinct (id, shingle) pairs — the inverted-index input."""
    return _exploded_shingles(df, text_col, id_col, n).distinct()


def shingle_postings(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Inverted index as posting lists: (shingle, ids: sorted array of doc
    ids containing it) — ONE shuffle on the shingle key.

    ``max_doc_freq`` drops shingles appearing in more than that many
    documents — the classic stopword-shingle skew bomb (a shingle in 1M docs
    creates a 10^12-row pair space). As a posting-list length filter the cap
    is free, and it simultaneously bounds the downstream pair generation to
    ``max_doc_freq²/2`` per shingle.
    """
    # No .distinct() first: collect_set dedups (doc, shingle) repeats inside
    # the same single shuffle that builds the posting lists.
    postings = (
        _exploded_shingles(df, text_col, id_col, n)
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
    )
    if max_doc_freq is not None:
        postings = postings.filter(F.size("ids") <= max_doc_freq)
    return postings


def _postings_from_pairs(
    pairs: DataFrame, id_col: str, max_doc_freq: int | None
) -> DataFrame:
    """Posting lists from a precomputed distinct (id, shingle) table —
    the same one-shuffle shape as :func:`shingle_postings`, for callers
    sharing a materialized shingle pass across consumers."""
    postings = pairs.groupBy("shingle").agg(
        F.array_sort(F.collect_set(id_col)).alias("ids")
    )
    if max_doc_freq is not None:
        postings = postings.filter(F.size("ids") <= max_doc_freq)
    return postings


def _posting_pairs(ids):
    """All ordered pairs (a < b) from a sorted id array, generated JVM-side
    with higher-order functions — no self-join. Bounded by the doc-freq cap."""
    n = F.size(ids)
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), n - i - 1),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    min_shared: int = 2,
    min_jaccard: float = 0.0,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs by n-word-shingle Jaccard similarity.

    Inverted-index formulation: explode shingles, self-join on the shingle,
    count shared shingles per (a, b) pair with a < b, then
    ``jaccard = shared / (|A| + |B| - shared)``. The self-join shuffles on the
    shingle key — never materializes the n² pair space; only pairs that share
    at least one shingle appear, and `min_shared` prunes the long tail early.

    ``max_doc_freq`` caps shingle document frequency (see
    :func:`shingle_postings`); the Jaccard is then over the capped shingle
    vocabulary — at scale this cap is the operator's job, not the caller's.

    Returns (id_a, id_b, shared_shingles, jaccard) rounded to 6 places.

    Plan shape: one shuffle groups shingles into posting lists; candidate
    pairs are generated JVM-side from each list (never a self-join of the
    exploded table, never n²); one shuffle counts shared shingles per pair;
    per-doc sizes come from re-exploding the capped postings (same shuffle
    key as the pair count's build side).
    """
    postings = shingle_postings(df, text_col, id_col, n, max_doc_freq=max_doc_freq)
    sizes = (
        postings.select(F.explode("ids").alias(id_col))
        .groupBy(id_col)
        .agg(F.count("*").alias("n_sh"))
    )
    shared = (
        postings.select(F.explode(_posting_pairs(F.col("ids"))).alias("p"))
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= min_shared)
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    # Both pair joins are sort-merge joins, whose size sides share one
    # exchange: left to AQE, the pair list was broadcast instead whenever
    # its stage finished first, and the sizes' broadcast was then no longer
    # shared by the second join. Neither side is bounded by construction,
    # and a sort-merge join spills where a hash build would not.
    out = (
        shared.join(sa.hint("shuffle_merge"), "id_a")
        .join(sb.hint("shuffle_merge"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared_shingles")
                / (F.col("n_a") + F.col("n_b") - F.col("shared_shingles")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "shared_shingles", "jaccard")
    )
    return out


def _md5_hash_pair(col):
    """(h1, h2) from ONE md5 of the value: h1 = top 48 bits, h2 = the next
    32 bits forced odd. The ``h1 + i*h2`` family (classic double hashing)
    gives ``num_hashes`` independent-enough hash functions from a single md5
    evaluation per shingle — 32× fewer hash computations than one salted md5
    per function, with every value engine-portable (hex prefix -> bigint).
    Max value ≈ 2^48 + 31·2^33, far inside long range."""
    h = F.md5(col)
    h1 = F.conv(F.substring(h, 1, 12), 16, 10).cast("long")
    h2 = F.conv(F.substring(h, 13, 8), 16, 10).cast("long") * 2 + 1
    return h1, h2


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    num_hashes: int = 32,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """MinHash signature per document: for hash function i the minimum of
    ``h1 + i*h2`` over the document's word shingles (one md5 per shingle —
    see :func:`_md5_hash_pair`).

    Returns (id_col, sig: array<long> of length num_hashes). Documents with
    no shingles (too short, or all shingles over ``max_doc_freq``) are
    dropped.

    Plan shape: the shingle posting-list shuffle hashes each DISTINCT
    shingle once (md5 per shingle, not per (doc, shingle) row), the explode
    fans the (h1, h2) pair out to the posting docs, and one groupBy(id)
    shuffle takes the per-hash minimums with map-side partial aggregation.
    """
    postings = shingle_postings(df, text_col, id_col, n, max_doc_freq=max_doc_freq)
    h1, h2 = _md5_hash_pair(F.col("shingle"))
    hashed = postings.select(
        h1.alias("h1"), h2.alias("h2"), F.explode("ids").alias(id_col)
    )
    # SQL-text expressions: one parser call per aggregate instead of several
    # py4j Column compositions — the resulting plan is identical.
    mins = hashed.groupBy(id_col).agg(
        *[F.expr(f"min(h1 + {i} * h2)").alias(f"h{i}") for i in range(num_hashes)]
    )
    arr = ",".join(f"h{i}" for i in range(num_hashes))
    return mins.select(F.col(id_col), F.expr(f"array({arr})").alias("sig"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH.

    Signatures are split into ``bands`` bands of ``num_hashes // bands`` rows;
    a pair is a candidate iff it collides in at least one band (equi-join on
    (band_id, band_hash)). The estimated Jaccard is the fraction of matching
    signature positions.

    Returns (id_a, id_b, est_jaccard). Shuffles: groupBy(id) for signatures,
    then ONE groupBy on (band_id, band_hash) that builds bucket posting
    lists; candidate pairs are generated JVM-side from each bucket list —
    the signature pipeline is evaluated once for candidate generation, not
    twice as the two sides of a self-join. At scale the band hash space is
    huge, so buckets stay small and pair generation never degenerates;
    ``max_doc_freq`` additionally caps stopword-shingle skew upstream.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        df, text_col, id_col, n=n, num_hashes=num_hashes, max_doc_freq=max_doc_freq
    )

    # element_at(sig, k) is 1-based == sig[k-1]; band b covers signature
    # positions b*rows_per_band .. b*rows_per_band+rows_per_band-1 (0-based).
    bands_sql = ",".join(
        "struct({b} as band_id, md5(concat_ws(',', {cols})) as band_hash)".format(
            b=b,
            cols=",".join(
                f"sig[{b * rows_per_band + r}]" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    banded = sigs.select(
        F.col(id_col), F.expr(f"explode(array({bands_sql}))").alias("band")
    ).select(F.col(id_col), "band.band_id", "band.band_hash")

    # Bucket posting lists + JVM-side pair generation (no self-join), then
    # dedup on bare (id_a, id_b) — the num_hashes-long signature arrays are
    # re-joined only AFTER .distinct(), never dragged through the explosion.
    buckets = banded.groupBy("band_id", "band_hash").agg(
        F.array_sort(F.collect_set(id_col)).alias("ids")
    )
    pairs = (
        buckets.select(F.explode(_posting_pairs(F.col("ids"))).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    # both signature joins are sort-merge joins: left to AQE, the pair
    # list or the signatures were broadcast by which stage finished first,
    # and the signatures' broadcast was shared by the two joins only
    # sometimes; the pair list grows with the data, so it is never built
    # into a hash map that cannot spill
    est = (
        pairs.hint("shuffle_merge")
        .join(sa, "id_a")
        .hint("shuffle_merge")
        .join(sb, "id_b")
    ).withColumn(
        "est_jaccard",
        F.expr(
            "round(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y),"
            f" m -> m)) / {num_hashes}, 6)"
        ),
    )
    return est.filter(F.col("est_jaccard") >= MIN_JACCARD_EST).select(
        "id_a", "id_b", "est_jaccard"
    )


def simhash_fingerprints(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per document from per-token md5 bits.

    For each distinct token, md5 gives 64 bits; each bit contributes +1/-1 to
    its position; the fingerprint sets bit i iff the sum is positive.
    Near-duplicates are fingerprints within small Hamming distance.

    Returns (id_col, simhash: long, n_tokens: long). Pure expressions: the
    per-document bit-vote is an explode + groupBy(id) aggregation.

    The hash depends only on the token, so the expensive string work (md5 +
    hex-digit parsing) runs once per DISTINCT token — a vocabulary-sized
    table — and is joined back to the (doc, token) postings. The corpus obeys
    Zipf: postings outnumber vocabulary by orders of magnitude, so this cuts
    the string ops per posting row to zero. Catalyst/AQE broadcasts the
    vocabulary when small; at 100 TB it degrades gracefully to a shuffle join
    on the token key.

    Shuffle width: the per-bit votes are SWAR-packed — each md5 hex digit's
    4 bits become 4 x 16-bit set-count lanes inside ONE long, so the
    per-document aggregate sums 16 longs instead of 64 separate vote columns
    (4x fewer agg buffers and shuffle bytes). Bit i of the fingerprint is set
    iff its set-count lane c satisfies 2*c > n_tokens (strict majority — a
    tie is the old sum==0, bit clear). Lane capacity bounds distinct tokens
    per document at 65,535; beyond that a lane would carry into its neighbor,
    so callers with pathological documents should truncate first.
    """
    tokens = (
        df.select(
            F.col(id_col),
            F.explode(F.split(_normalized(F.col(text_col)), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    # Vocabulary: one md5 per distinct token. Hex digit g holds bits
    # 4g..4g+3 (mask 8>>(i%4)); digit g becomes packed long p{g} with those
    # 4 bits as 0/1 set-counts in lanes 0..3 (lane k at shift 16*k).
    # The wide expressions are emitted as SQL text (F.expr) through staged
    # selects so md5 is evaluated once per token and the driver builds the
    # plan in a handful of parser calls instead of hundreds of per-Column
    # roundtrips — the plan itself is identical either way.
    ndig = SIMHASH_BITS // 4
    packed_sql = [
        " + ".join(
            f"(CASE WHEN (d{g} & {8 >> k}) > 0 THEN CAST({1 << (16 * k)} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END)"
            for k in range(4)
        )
        for g in range(ndig)
    ]
    vocab = (
        tokens.select("tok")
        .distinct()
        .select("tok", F.md5("tok").alias("h"))
        .select(
            "tok",
            "h",
            *[
                F.expr(f"CAST(conv(substring(h, {g + 1}, 1), 16, 10) AS BIGINT)").alias(
                    f"d{g}"
                )
                for g in range(ndig)
            ],
        )
        .select("tok", *[F.expr(packed_sql[g]).alias(f"p{g}") for g in range(ndig)])
    )
    summed = (
        tokens.join(vocab, "tok")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            *[F.sum(f"p{g}").alias(f"p{g}") for g in range(ndig)],
        )
    )
    decode_terms = []
    for i in range(SIMHASH_BITS):
        g, k = i // 4, i % 4
        v = 1 << (SIMHASH_BITS - 1 - i)
        if i == 0:
            v = -(1 << 63)  # sign bit: emit the signed long literal
        decode_terms.append(
            f"(CASE WHEN ((shiftrightunsigned(p{g}, {16 * k}) & 65535) * 2)"
            f" > n_tokens THEN CAST({v} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
    fp = summed.select(
        F.col(id_col),
        F.expr(" | ".join(decode_terms)).alias("simhash"),
        "n_tokens",
    )
    return fp


def corpus_line_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_freq: int = 1,
) -> DataFrame:
    """C4-style corpus-level line dedup: drop every line whose corpus-wide
    frequency exceeds ``max_freq`` (boilerplate — headers, footers, cookie
    banners), then reassemble each document with surviving lines in their
    original order.

    Returns (id_col, clean_text, n_kept, n_dropped) — one row per input
    document; a document whose every line is boilerplate keeps an empty
    clean_text rather than vanishing.

    Scale design: lines are counted by ``xxhash64`` (a long key — an 8-byte
    shuffle key instead of the full line string; 64-bit collisions are
    ~n²/2⁶⁵ and only ever over-drop a line). The banned set is built with
    one map-side-combinable groupBy — a line duplicated a billion times is
    a hot KEY but partial aggregation reduces it to one row per map task
    before the exchange. Dropping is a left_anti equi-join on the hash, and
    reassembly is one groupBy(id) with an in-array sort (array_sort over
    (pos, line) structs), so order restoration costs no extra window or
    per-doc Python.
    """
    import re

    # F.split takes a REGEX but reassembly concat_ws takes a LITERAL — escape
    # the delimiter so both agree for metacharacter delimiters ('|', '.').
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.filter(
                F.transform(
                    F.split(F.col(text_col), re.escape(LINE_DELIM)),
                    lambda x: F.trim(x),
                ),
                lambda x: x != "",
            )
        ).alias("pos", "line"),
    ).withColumn("h", F.xxhash64("line"))
    banned = (
        lines.groupBy("h")
        .count()
        .filter(F.col("count") > max_freq)
        .select("h")
    )
    kept = lines.join(banned, on="h", how="left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            LINE_DELIM,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count("*").alias("n_total"))
    return (
        df.select(id_col)
        .join(totals, on=id_col, how="left")
        .join(reassembled, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.coalesce("n_total", F.lit(0)) - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )


def cross_corpus_contamination(
    train: DataFrame,
    eval_: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    min_shared: int = 2,
    max_doc_freq: int | None = None,
    train_shingles: DataFrame | None = None,
    eval_shingles: DataFrame | None = None,
) -> DataFrame:
    """Decontamination: n-gram overlap of every TRAIN document against an
    EVAL/benchmark corpus — the leakage check a training-data pipeline runs
    before any split ships (an eval question quoted inside a train document
    inflates downstream scores invisibly).

    Returns (train_id, eval_id, shared_shingles, jaccard) candidate pairs;
    aggregate per train_id for a keep/drop verdict.

    Scale design: same inverted-index shape as :func:`ngram_jaccard_pairs`
    but the pair space is a CROSS join of posting lists, not a self-join —
    each side builds its own posting list per shingle (one shuffle each),
    the two are equi-joined on the shingle key (eval is the small side at
    100 TB — a benchmark corpus is MBs — so Catalyst broadcasts it), and
    (train, eval) pairs explode JVM-side bounded by
    ``max_doc_freq_train × max_doc_freq_eval`` per shingle. The Jaccard
    denominator uses each side's own capped shingle count.

    ``train_shingles`` / ``eval_shingles`` optionally supply precomputed
    distinct (id, shingle) tables (the :func:`shingle_table` shape) in
    place of re-shingling ``train`` / ``eval_`` — for callers that feed
    several consumers from ONE materialized shingle pass (the
    dedup_cross_corpus suite shares them with its bloom-prefilter leg)
    or serve a STORED shingle table. Semantics are identical: posting
    lists and doc-frequency caps are built from the given pairs exactly
    as from a fresh explosion. NOTE: when a side's shingle table is
    supplied, that side's DataFrame and the ``n`` / ``text_col``
    parameters are IGNORED for it — the caller owns the guarantee that
    the table was shingled with the intended (text_col, n); a table
    built with a different n silently changes what "shared shingle"
    means.
    """
    tp = (
        shingle_postings(train, text_col, id_col, n, max_doc_freq=max_doc_freq)
        if train_shingles is None
        else _postings_from_pairs(train_shingles, id_col, max_doc_freq)
    )
    ep = (
        shingle_postings(eval_, text_col, id_col, n, max_doc_freq=max_doc_freq)
        if eval_shingles is None
        else _postings_from_pairs(eval_shingles, id_col, max_doc_freq)
    )
    t_sizes = (
        tp.select(F.explode("ids").alias("train_id"))
        .groupBy("train_id")
        .agg(F.count("*").alias("n_t"))
    )
    e_sizes = (
        ep.select(F.explode("ids").alias("eval_id"))
        .groupBy("eval_id")
        .agg(F.count("*").alias("n_e"))
    )
    cross = (
        tp.select("shingle", F.col("ids").alias("t_ids"))
        .join(ep.select("shingle", F.col("ids").alias("e_ids")), "shingle")
        .select(
            F.explode("t_ids").alias("train_id"), F.col("e_ids")
        )
        .select("train_id", F.explode("e_ids").alias("eval_id"))
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= min_shared)
    )
    # The pair list meets the train sizes in a sort-merge join on train_id:
    # left to AQE, whichever side's stage finished first was broadcast, and
    # only one of the two build sides kept the output partitioned by
    # train_id. The pair list grows with the data; a sort-merge join spills.
    return (
        cross.hint("shuffle_merge")
        .join(t_sizes, "train_id")
        .join(e_sizes, "eval_id")
        .select(
            "train_id",
            "eval_id",
            "shared_shingles",
            F.round(
                F.col("shared_shingles")
                / (F.col("n_t") + F.col("n_e") - F.col("shared_shingles")),
                6,
            ).alias("jaccard"),
        )
    )


def incremental_dedup_verdicts(
    corpus: DataFrame | None,
    incoming: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    min_shared: int = 2,
    max_doc_freq: int | None = None,
    corpus_hashes: DataFrame | None = None,
    corpus_shingles: DataFrame | None = None,
    incoming_shingles: DataFrame | None = None,
) -> DataFrame:
    """Classify an INCOMING batch against an EXISTING corpus — the shape an
    ongoing crawl actually needs: the 100 TB corpus is never re-paired with
    itself, only the (small) new batch is checked against it.

    Two tiers, one row per incoming doc:

    - exact tier: NORMALIZED-text md5 equi-join — the same canonical form
      (:func:`_normalized`) as :func:`exact_dedup`, so the two operators
      agree on what an exact duplicate is (a whitespace/case variant of a
      corpus doc is 'exact_dup' here exactly when batch exact-dedup would
      collapse it). The corpus side reduces to DISTINCT hashes — one
      aggregate over the corpus, the same cost class as exact dedup; the
      incoming hash set is tiny and broadcasts.
    - near tier: :func:`cross_corpus_contamination` with the corpus as the
      posting-list side and the incoming batch as the small side, so the
      per-shingle fan-out stays capped by ``max_doc_freq`` on BOTH sides
      and the incoming postings broadcast.

    verdict ∈ ('exact_dup', 'near_dup', 'new') with exact > near > new;
    n_corpus_matches / max_shared / max_jaccard summarize the near tier
    (0 / NULL / NULL for docs with no near match, so the 'new' path is
    verified too, not just absent).

    STORE-SERVED path: pass ``corpus_hashes`` (the :func:`normalized_hashes`
    artifact) and/or ``corpus_shingles`` (the :func:`shingle_table` artifact)
    to serve the corresponding tier from a STORED table instead of
    rescanning ``corpus`` — the shape a 100 TB pipeline actually runs
    (append each admitted batch's hashes/shingles; per-batch cost is one
    scan of the small artifact tables, never a corpus re-read). When BOTH
    are given ``corpus`` may be None. Doc-frequency caps are applied over
    the stored shingle table at serve time, so store-served ≡ rescan
    exactly (appending per-batch shingle rows then capping equals capping
    the union — set semantics). ``incoming_shingles`` optionally shares
    one batch shingle pass across consumers (e.g. a bloom probe). Same
    caveat as :func:`cross_corpus_contamination`: a supplied table's side
    ignores ``n``/``text_col`` for that tier — the caller owns the
    guarantee that the store was built with the intended canonicalization.
    """
    if corpus is None and (corpus_hashes is None or corpus_shingles is None):
        raise ValueError(
            "corpus may be None only when corpus_hashes AND corpus_shingles "
            "are supplied (a store-served tier needs its stored artifact)"
        )
    inc_ids = incoming.select(F.col(id_col).alias("inc_id"))
    corpus_h = (
        corpus_hashes
        if corpus_hashes is not None
        else normalized_hashes(corpus, text_col)
    )
    exact = (
        incoming.select(
            F.col(id_col).alias("inc_id"),
            F.md5(_normalized(F.col(text_col))).alias("h"),
        )
        .join(corpus_h.select("h").distinct(), "h")
        .select("inc_id")
        .distinct()
        .withColumn("is_exact", F.lit(True))
    )
    near = (
        cross_corpus_contamination(
            corpus,
            incoming,
            text_col,
            id_col,
            n=n,
            min_shared=min_shared,
            max_doc_freq=max_doc_freq,
            train_shingles=corpus_shingles,
            eval_shingles=incoming_shingles,
        )
        .groupBy(F.col("eval_id").alias("inc_id"))
        .agg(
            F.count("*").cast("long").alias("n_corpus_matches"),
            F.max("shared_shingles").cast("long").alias("max_shared"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )
    # both tiers hold at most one row per incoming doc: broadcast them
    # rather than let AQE choose a strategy by stage finish order
    return (
        inc_ids.join(F.broadcast(exact), "inc_id", "left")
        .join(F.broadcast(near), "inc_id", "left")
        .select(
            F.col("inc_id").alias(id_col),
            F.when(F.col("is_exact"), F.lit("exact_dup"))
            .when(F.col("n_corpus_matches") >= 1, F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.coalesce(F.col("n_corpus_matches"), F.lit(0).cast("long")).alias(
                "n_corpus_matches"
            ),
            "max_shared",
            "max_jaccard",
        )
    )


def boilerplate_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    min_docs: int = 2,
    top_m: int = 20,
    n_shards: int = 16,
    line_delim: str = LINE_DELIM,
    group_col: str | None = None,
) -> DataFrame:
    """Sharded heavy-hitter LINES — the corpus-wide boilerplate REPORT that
    :func:`corpus_line_dedup` acts on implicitly: (shard, line, n_docs,
    rank) for each hash shard's top_m most-document-frequent lines with
    n_docs ≥ min_docs, ranked by (n_docs DESC, line).

    Why sharded: a single global top-m funnels every candidate through one
    ordering task; sharding by content hash (md5(line) % n_shards) keeps
    the per-task state at top_m and the output at ≤ n_shards·top_m rows
    while staying fully deterministic — the same line lands in the same
    shard on every engine, so shard reports MERGE across disjoint corpora
    (per-line doc counts add; re-rank per shard — pinned by the
    equivalence test in tests/test_operators.py).

    Shape at scale: one map-side-combinable count on (line) — a line
    pasted into a billion docs is a hot KEY but partial aggregation
    reduces it to one row per map task before the exchange — then one
    per-shard window whose WindowGroupLimit prunes to top_m per partition
    BEFORE the second (n_shards-row) shuffle. Lines are counted by
    DISTINCT containing doc, not occurrences, so a single doc repeating
    its own header can't fake corpus-wide boilerplate.

    ``group_col`` builds MANY reports in the single pass — one per group
    value, (group_col, shard, line, n_docs, rank) with counts, shards and
    ranks all computed per group — bit-identical per group to separate
    builds (every step is per-group keyed; the shard hash is content-only).
    A per-shard/per-day report build then scans its corpus once instead of
    once per day (round 13, guide §2.4)."""
    import re

    from pyspark.sql import Window

    g = [group_col] if group_col else []
    lines = df.select(
        *g,
        F.col(id_col).alias("__id"),
        F.explode(
            F.array_distinct(
                F.filter(
                    F.transform(
                        F.split(F.col(text_col), re.escape(line_delim)),
                        lambda x: F.trim(x),
                    ),
                    lambda x: x != "",
                )
            )
        ).alias("line"),
    )
    counts = (
        lines.groupBy(*g, "line")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .withColumn(
            "shard",
            (
                F.conv(F.substring(F.md5(F.col("line")), 1, 13), 16, 10).cast(
                    "long"
                )
                % n_shards
            ),
        )
    )
    w = Window.partitionBy(*g, "shard").orderBy(F.col("n_docs").desc(), "line")
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_m)
        .select(
            *g,
            "shard",
            "line",
            "n_docs",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def boilerplate_merge(
    reports: list[DataFrame],
    *,
    top_m: int = 20,
) -> DataFrame:
    """Merge per-corpus :func:`boilerplate_lines` reports from DISJOINT
    corpora: per-line doc counts add (a doc lives in exactly one corpus),
    shard assignment is content-derived so identical lines collide, and
    each shard re-ranks to its merged top_m. Exact — not heuristic —
    whenever every input report was built with min_docs=1 (i.e. reports
    carry ALL their lines); with a higher min_docs the merge is still a
    valid lower bound per line (a line can only gain count), which is the
    standard mergeable-heavy-hitter guarantee."""
    from pyspark.sql import Window

    if not reports:
        raise ValueError("boilerplate_merge needs at least one report")
    u = reports[0]
    for r in reports[1:]:
        u = u.unionByName(r)
    merged = u.groupBy("shard", "line").agg(
        F.sum("n_docs").cast("long").alias("n_docs")
    )
    w = Window.partitionBy("shard").orderBy(F.col("n_docs").desc(), "line")
    return (
        merged.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_m)
        .select("shard", "line", "n_docs", F.col("rank").cast("long").alias("rank"))
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    w: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """EXACT SUBSTRING-level dedup — the span-granular third tier between
    document-level (:func:`exact_dedup`) and line-level
    (:func:`corpus_line_dedup`): find every maximal run of tokens that is
    part of a ``w``-token window appearing in ≥ ``min_docs`` distinct
    documents, and cut those runs out (the shape of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", which
    removes repeated ≥50-token substrings corpus-wide; their suffix-array
    build is replaced here by the distributed-friendly equivalent over
    fixed-width windows: a w-token window is shared iff the suffix-array
    match is ≥ w tokens long).

    Returns one row per input doc: (id_col, clean_text, n_tokens,
    n_dup_tokens, n_spans) — clean_text is the doc with covered tokens
    removed (order preserved), n_spans the count of maximal covered runs.

    Scale shape: one map-side-combinable groupBy on the w-gram hash finds
    shared windows (same hot-key behavior as line dedup: partial agg
    collapses a billion-fold repeated passage per map task); marking is a
    broadcast-free equi-join of each doc's window table against the
    shared set, and span algebra (coverage, maximal runs, removal) is
    pure array expressions per doc — a token at position p is covered iff
    some shared window starts in [p-w+1, p], so no interval-merge state
    is needed. Per-doc cost is O(tokens × shared-windows-in-doc); a doc
    that is ENTIRELY quoted text has ≤ tokens windows, keeping the worst
    case quadratic only in the doc's own length, never the corpus.

    Window hashes are xxhash64 like line dedup (8-byte shuffle keys;
    collisions only ever over-drop). Determinism: everything is
    content-derived — no ordering sensitivity anywhere."""
    toks = _span_toks(df, text_col, id_col)
    grams = _span_grams(toks, id_col, w)
    shared = (
        grams.select("gh", id_col)
        .distinct()
        .groupBy("gh")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("gh")
    )
    starts = (
        grams.join(shared, "gh")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("pos0")).alias("__starts"))
    )
    return _span_coverage(toks, starts, id_col, w)


def _span_toks(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, __toks): normalized non-empty token array per doc."""
    return df.select(
        F.col(id_col),
        F.split(_normalized(F.col(text_col)), " ").alias("__toks"),
    ).select(
        id_col,
        F.filter(F.col("__toks"), lambda x: x != "").alias("__toks"),
    )


def _span_grams(toks: DataFrame, id_col: str, w: int) -> DataFrame:
    """(id, pos0, gh): every w-token window with its 0-based start and
    xxhash64 (8-byte shuffle/join keys, collisions only ever over-drop)."""
    return toks.select(
        F.col(id_col),
        F.posexplode(_word_shingles(F.col("__toks"), w)).alias("pos0", "gram"),
    ).select(id_col, "pos0", F.xxhash64("gram").alias("gh"))


def _span_coverage(
    toks: DataFrame, starts: DataFrame, id_col: str, w: int
) -> DataFrame:
    """Shared span algebra: given per-doc SORTED arrays of flagged window
    start positions, compute (id, clean_text, n_tokens, n_dup_tokens,
    n_spans) — a token p is covered iff a flagged window starts in
    [p-w+1, p], so no interval-merge state is ever needed."""
    marked = toks.join(starts, id_col, "left").withColumn(
        "__starts",
        F.coalesce(F.col("__starts"), F.array().cast("array<int>")),
    )

    def covered(p):
        return F.exists(
            F.col("__starts"), lambda s: (s <= p) & (p < s + F.lit(w))
        )

    # guard the empty-doc case: sequence(0, -1) would count DOWN in Spark
    idx = F.when(
        F.size("__toks") > 0, F.sequence(F.lit(0), F.size("__toks") - 1)
    ).otherwise(F.array().cast("array<int>"))
    return marked.select(
        id_col,
        F.concat_ws(
            " ",
            F.transform(
                F.filter(idx, lambda p: ~covered(p)),
                lambda p: F.element_at(F.col("__toks"), (p + 1).cast("int")),
            ),
        ).alias("clean_text"),
        F.size("__toks").cast("long").alias("n_tokens"),
        F.size(F.filter(idx, lambda p: covered(p)))
        .cast("long")
        .alias("n_dup_tokens"),
        F.size(
            F.filter(
                idx,
                lambda p: covered(p)
                & F.when(p == 0, F.lit(True)).otherwise(~covered(p - 1)),
            )
        )
        .cast("long")
        .alias("n_spans"),
    )


def span_windows(
    df: DataFrame, text_col: str, id_col: str, *, w: int = 10
) -> DataFrame:
    """DISTINCT w-token window hashes — the span-tier ARTIFACT an
    incremental pipeline stores (append each admitted batch's windows;
    serve :func:`incremental_duplicated_spans` from the store via
    ``corpus_windows`` instead of re-shingling the corpus). One column
    ``gh``; same tokenization/window hash as :func:`duplicated_spans`.
    Append-then-distinct equals rescan-distinct (set union)."""
    return (
        _span_grams(_span_toks(df, text_col, id_col), id_col, w)
        .select("gh")
        .distinct()
    )


def incremental_duplicated_spans(
    corpus: DataFrame | None,
    incoming: DataFrame,
    text_col: str,
    id_col: str,
    *,
    w: int = 10,
    corpus_windows: DataFrame | None = None,
) -> DataFrame:
    """Batch-vs-corpus substring dedup — the crawl-shaped form of
    :func:`duplicated_spans`, completing the incremental family at span
    granularity (doc-level: incremental_dedup_verdicts; embedding-level:
    clustering.incremental_semantic_verdicts): for each INCOMING document,
    the tokens covered by w-token windows that appear ANYWHERE in the
    existing corpus, with the corpus never paired against itself.

    Returns (id_col, clean_text, n_tokens, n_dup_tokens, n_spans) for
    every incoming doc — n_dup_tokens = 0 is the verified 'new' path.

    Scale shape: the batch's distinct window hashes BROADCAST into a
    semi-join against the corpus window table (at 100 TB that table is the
    STORED artifact a pipeline maintains — append each admitted batch's
    windows — so per-batch cost is one scan of the store, or a
    bloom-prefiltered fraction of it, never a corpus re-shingle); matched
    hashes broadcast back to the batch's positions and the coverage
    algebra is the same pure array math as the full operator. A window the
    incoming doc shares only with OTHER INCOMING docs does NOT count —
    batch-internal duplication is the full operator's job after admission.

    The batch's distinct window hashes — and the matched subset, which is
    no larger — are hinted to broadcast into both joins, and so are the
    per-doc start lists into the coverage join: a crawl batch is MBs
    against a TB corpus.

    ``corpus_windows`` serves the corpus side from a STORED
    :func:`span_windows` artifact (append each admitted batch's windows)
    instead of re-shingling ``corpus`` — which may then be None. The
    caller owns the guarantee the store was built with the same ``w``.
    """
    if corpus is None and corpus_windows is None:
        raise ValueError(
            "corpus may be None only when corpus_windows is supplied"
        )
    inc_toks = _span_toks(incoming, text_col, id_col)
    inc_grams = _span_grams(inc_toks, id_col, w)
    corpus_gh = (
        corpus_windows.select("gh").distinct()
        if corpus_windows is not None
        else span_windows(corpus, text_col, id_col, w=w)
    )
    matched = corpus_gh.join(
        F.broadcast(inc_grams.select("gh").distinct()), "gh", "left_semi"
    )
    starts = (
        inc_grams.join(F.broadcast(matched), "gh")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("pos0")).alias("__starts"))
    )
    # unhinted, AQE chose broadcast or shuffled hash by stage finish order
    return _span_coverage(inc_toks, F.broadcast(starts), id_col, w)
