"""Deterministic Bloom-filter membership — the broadcast-sized scale path
for cross-corpus decontamination.

The shingle equi-join in :mod:`operators.dedup.cross_corpus_contamination`
shuffles the TRAIN corpus's shingle table — correct, capped, but still a
wide exchange proportional to the big side. When the held-out side is
small enough to summarize (every benchmark is), the classic fix is a Bloom
filter (Bloom 1970, public literature): hash the eval side into an m-bit
array once, broadcast the bits, and probe the train side map-side with NO
shuffle of train data at all — the only wide exchange left is the final
per-doc hit count, which is map-side combinable.

Spark ships a Bloom hint (``spark.sql.optimizer.runtime.bloomFilter``) and
``DataFrameStatFunctions``, but both are engine-private: the bit layout is
unspecified, so no other system can reproduce which probes hit. This
implementation is engine-portable by construction:

- bit positions: ``pos_j = md5('bf{j}:' || value)[:13 hex] % m_bits`` for
  j in 0..h-1 — the same 52-bit md5 trick as operators/sampling, replayable
  in any engine with md5;
- the bitset is a TABLE of 32-bit words ``(word_idx, bits)`` built with one
  ``bit_or`` aggregate over ≤ m/32 rows (32-bit words so ``1 << bit`` never
  touches the sign bit in engines without unsigned longs);
- a probe hits iff ALL h of its positions are set — false negatives are
  IMPOSSIBLE (the property that makes a Bloom a safe prefilter), false
  positives are deterministic given (m, h, salt) and therefore
  oracle-verifiable bit-for-bit.

Sizing: false-positive rate ≈ (1 − e^{−hn/m})^h; at m/n = 16 bits per
element and h = 4 that is ~2.4e-3. ``bloom_bitset`` is the build
(store/broadcast this per benchmark release); ``bloom_probe_count`` is the
probe. Merging two filters built with the same (m, h, salt) is
``bit_or`` per word — union semantics, exactly like the KMV sketch's
min-k union (operators/sketches).

No reference counterpart — engine-original (SURVEY.md §2.12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Bits per bitset word. 32, not 64: ``1 << 31`` still fits a signed
#: 64-bit lane in every engine, so the word math never wraps the sign bit.
_WORD_BITS = 32


def _check_n_hashes(n_hashes: int) -> None:
    # with no hash positions the all-positions-set test is vacuously true:
    # every probe would count as a hit
    if n_hashes < 1:
        raise ValueError(f"n_hashes must be at least 1, got {n_hashes}")


def _positions(col, m_bits: int, n_hashes: int, salt: str):
    """The h Bloom bit positions of ``col`` as an array column: 52-bit md5
    of '{salt}{j}:value', reduced mod m_bits. Non-negative by construction
    (13 hex digits < 2^52), so plain ``%`` agrees across engines."""
    return F.array(
        *[
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{salt}{j}:"), col.cast("string"))),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("long")
            % m_bits
            for j in range(n_hashes)
        ]
    )


def bloom_bitset(
    df: DataFrame,
    value_col: str,
    *,
    m_bits: int = 1 << 22,
    n_hashes: int = 4,
    salt: str = "bf",
    group_col: str | None = None,
) -> DataFrame:
    """Build the Bloom bitset over the distinct non-null values of
    ``value_col``: a (word_idx long, bits long) table with ≤ m_bits/32
    rows and only set words present (absent word == all zeros).

    One narrow projection + one ``bit_or`` groupBy on word_idx — the
    build never shuffles values, only (word, single-bit mask) pairs, and
    partial aggregation collapses those map-side. The result is
    broadcast-sized by construction (m = 2^22 → ≤ 131072 rows ≈ 2 MB)
    regardless of input cardinality — that bound, not the input size, is
    what crosses the cluster.

    ``group_col`` builds MANY bitsets in the single pass — one per group
    value, (group_col, word_idx, bits) — bit-identical per group to
    separate builds (distinct/position math is per group; the same hash
    family applies). The per-shard/per-day build then scans its input
    once instead of once per shard (round 13, guide §2.4)."""
    if m_bits % _WORD_BITS:
        raise ValueError(f"m_bits must be a multiple of {_WORD_BITS}")
    _check_n_hashes(n_hashes)
    g = [group_col] if group_col else []
    pos = (
        df.select(*g, F.col(value_col).alias("__v"))
        .where(F.col("__v").isNotNull())
        .distinct()
        .select(
            *g,
            F.explode(
                _positions(F.col("__v"), m_bits, n_hashes, salt)
            ).alias("pos"),
        )
        .distinct()
    )
    return (
        pos.select(
            *g,
            F.expr(f"pos DIV {_WORD_BITS}").alias("word_idx"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_WORD_BITS} AS INT))"
            ).alias("__mask"),
        )
        .groupBy(*g, "word_idx")
        .agg(F.bit_or("__mask").alias("bits"))
    )


def bloom_probe_count(
    df: DataFrame,
    value_col: str,
    id_col: str,
    bitset: DataFrame,
    *,
    m_bits: int = 1 << 22,
    n_hashes: int = 4,
    salt: str = "bf",
    assume_distinct: bool = False,
) -> DataFrame:
    """Probe (id, value) rows against a :func:`bloom_bitset` and return
    per-id hit counts: (id_col, n_probed, n_hits) where a value hits iff
    ALL ``n_hashes`` of its bit positions are set. (m_bits, n_hashes,
    salt) must match the build or membership is garbage.

    Shape at scale (round 13, guide §2.4): each of the h positions probes
    the word table through its OWN broadcast left join — h narrow joins
    against the same ≤2 MB broadcast relation (built once, reused), and
    the all-positions-set test is a row-wise conjunction. The earlier
    form exploded h rows per (id, value) and re-grouped them back
    per-value, paying a full exchange of the h×-amplified probe rows for
    an aggregation the row itself can answer; that exchange is gone and
    the ONLY remaining shuffle is the final per-id count, map-side
    combinable. The probed corpus still never crosses a shuffle wider
    than (id, hash-residue) rows. Membership is bit-identical: the same
    h positions are tested against the same words, missing word == all
    zeros (left join NULL) exactly as before.

    ``assume_distinct=True`` skips the defensive (id, value) distinct —
    pass it when the input is already a distinct-pairs table (e.g.
    :func:`operators.dedup.shingle_table` output) and the probe then
    runs shuffle-free up to the final count."""
    _check_n_hashes(n_hashes)
    probes = df.select(F.col(id_col), F.col(value_col).alias("__v")).where(
        F.col("__v").isNotNull()
    )
    if not assume_distinct:
        probes = probes.distinct()
    pos = _positions(F.col("__v"), m_bits, n_hashes, salt)
    probes = probes.select(
        id_col, *[pos[j].alias(f"__p{j}") for j in range(n_hashes)]
    ).select(
        id_col,
        *[
            F.expr(f"__p{j} DIV {_WORD_BITS}").alias(f"__w{j}")
            for j in range(n_hashes)
        ],
        *[
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(__p{j} % {_WORD_BITS} AS INT))"
            ).alias(f"__m{j}")
            for j in range(n_hashes)
        ],
    )
    # the word table is referenced once per hash join below: checkpoint it
    # lazily (first consumer materializes, the rest reuse) so the plan
    # embeds ONE ≤m/32-row table instead of h copies of the build subtree
    # — h re-executions of the bitset aggregation would cost more than the
    # explode form saved.
    bitset = bitset.localCheckpoint(eager=False)
    for j in range(n_hashes):
        probes = probes.join(
            F.broadcast(
                bitset.select(
                    F.col("word_idx").alias(f"__w{j}"),
                    F.col("bits").alias(f"__b{j}"),
                )
            ),
            f"__w{j}",
            "left",
        )
    hit = F.lit(True)
    for j in range(n_hashes):
        hit = hit & (
            F.col(f"__b{j}").isNotNull()
            & (F.col(f"__b{j}").bitwiseAND(F.col(f"__m{j}")) != 0)
        )
    return (
        probes.select(
            id_col, F.when(hit, F.lit(1)).otherwise(F.lit(0)).alias("__hit")
        )
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_probed"),
            F.sum("__hit").cast("long").alias("n_hits"),
        )
    )


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two bitsets built with the same (m, h, salt): per-word
    ``bit_or``. The merged filter is IDENTICAL to one built directly on
    the unioned value sets (OR is associative/commutative over the same
    hash family) — pinned by the equivalence test — which is what lets a
    pipeline keep one filter per benchmark release and combine them at
    probe time without rescanning any benchmark."""
    return (
        a.unionByName(b)
        .groupBy("word_idx")
        .agg(F.bit_or("bits").alias("bits"))
    )
