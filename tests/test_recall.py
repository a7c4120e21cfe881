"""Recall floors for the approximate operators against their exact
counterparts, on the sf0.01 fixture.

A training-data pipeline lives or dies on its approximate operators not
silently degrading: a future "optimization" that guts MinHash banding or the
ANN probe radius would still pass every value-correctness oracle (the
operators are correct BY DEFINITION of their own algorithm) while quietly
destroying dedup/search quality. These tests pin measured recall floors so
that class of regression fails loudly.

Floors are set just below the measured values at the pinned configurations
(see each test) — tight enough to catch a real quality drop, loose enough
to survive benign nondeterminism (there is none today: every operator is
deterministic).
"""

from __future__ import annotations

import pytest

from steam_data_engineer_project_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def exact_top10(spark):
    # brute leg of the exact-scoring suite (brute_force_cosine_topk)
    df = QUERIES["ann_exact_suite"].spark(spark, SF_DIR)
    return [r.vec_id for r in df.filter(df.part == "brute").collect()]


def test_ann_lsh_recall_floor(spark, exact_top10):
    """8 planes / Hamming-2 probe scans ~14.5% of buckets; measured
    recall@10 = 0.40 on the near-random synthetic embeddings (clustered real
    embeddings do far better at the same radius — random vectors are LSH's
    worst case). Floor: 0.30. Scored on the suite's in_plan leg
    (lsh_bucket_cosine_topk); the pruned leg returns the same rows."""
    df = QUERIES["ann_lsh_suite"].spark(spark, SF_DIR)
    got = [r.vec_id for r in df.filter(df.part == "in_plan").collect()]
    recall = len(set(exact_top10) & set(got)) / len(exact_top10)
    assert recall >= 0.30, f"ann_lsh recall@10 fell to {recall}"


def test_ann_ivf_recall_floor(spark, exact_top10):
    """16 centroids / probe 4; measured recall@10 = 1.0. Floor: 0.90.
    Scored on the firstids leg (ivf_cosine_topk) alone: the suite also
    returns the trained leg's top-10, which would cover a drop here."""
    df = QUERIES["ann_ivf_topk"].spark(spark, SF_DIR)
    got = [r.vec_id for r in df.filter(df.part == "firstids").collect()]
    recall = len(set(exact_top10) & set(got)) / len(exact_top10)
    assert recall >= 0.90, f"ann_ivf recall@10 fell to {recall}"


@pytest.fixture(scope="module")
def truth_pairs(spark):
    """Ground-truth near-dup pairs: n-gram Jaccard >= 0.5 (the exact
    inverted-index operator — itself oracle-verified)."""
    rows = QUERIES["dedup_ngram_jaccard_docs"].spark(spark, SF_DIR).collect()
    truth = {(r.id_a, r.id_b) for r in rows if r.jaccard >= 0.5}
    assert len(truth) >= 20  # the fixture seeds real near-dups
    return truth


def test_minhash_lsh_candidate_recall_floor(spark, truth_pairs):
    """32 hashes / 8 bands over 3-shingles; measured candidate-pair recall
    over the Jaccard>=0.5 truth = 0.96. Floor: 0.90."""
    cands = {
        (r.id_a, r.id_b)
        for r in QUERIES["dedup_minhash_lsh_docs"].spark(spark, SF_DIR).collect()
    }
    recall = len(truth_pairs & cands) / len(truth_pairs)
    assert recall >= 0.90, f"minhash candidate recall fell to {recall}"


def test_simhash_hamming_recall_floor(spark, truth_pairs):
    """64-bit SimHash; a Jaccard>=0.5 pair should land within Hamming
    distance 12 (the usual near-dup radius at 64 bits). Measured recall =
    1.0. Floor: 0.90."""
    fps = {
        r.doc_id: r.simhash
        for r in QUERIES["dedup_simhash_docs"].spark(spark, SF_DIR).collect()
    }
    mask = (1 << 64) - 1

    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & mask).count("1")

    close = {
        (a, b) for (a, b) in truth_pairs if hamming(fps[a], fps[b]) <= 12
    }
    recall = len(close) / len(truth_pairs)
    assert recall >= 0.90, f"simhash hamming-12 recall fell to {recall}"


def test_ann_quantized_recall_floor(spark, exact_top10):
    """int8 symmetric quantization; measured recall@10 = 0.90 (one tail
    swap between near-tied neighbors). Floor: 0.80."""
    df = QUERIES["ann_exact_suite"].spark(spark, SF_DIR)
    got = [r.vec_id for r in df.filter(df.part == "quantized").collect()]
    recall = len(set(exact_top10) & set(got)) / len(exact_top10)
    assert recall >= 0.80, f"ann_quantized recall@10 fell to {recall}"


def test_semdedup_planted_twin_recall(spark):
    """dedup_embedding_cosine semdedup legs: every planted same-decade twin
    pair (vec_id ≡6, ≡7 mod 10 — near-identical lattice vectors) must be
    clustered together AND surface in the pair leg. This is the recall
    floor of the cluster-then-pair design: a twin split across clusters
    would be a silent false negative."""
    out = [
        r
        for r in QUERIES["dedup_embedding_cosine"].spark(spark, SF_DIR).collect()
        if r.part in ("assign", "pair")
    ]
    n = max(r.id_a for r in out if r.part == "assign") + 1
    expected = {
        (10 * d + 6, 10 * d + 7)
        for d in range(n // 10)
        if 10 * d + 7 < n
    }
    got_pairs = {(r.id_a, r.id_b) for r in out if r.part == "pair"}
    missing = expected - got_pairs
    assert not missing, f"planted twins lost by clustering: {sorted(missing)[:5]}"
    # and they must be near-exact: cos_micro within 200 ppm of 1
    twin_cos = [
        r.cos_micro for r in out if r.part == "pair" and (r.id_a, r.id_b) in expected
    ]
    assert min(twin_cos) >= 999_800


def test_ann_ivf_trained_codebook_recall_floor(spark, exact_top10):
    """IVF with a kmeans_int8-TRAINED codebook (train_ivf_codebook) through
    the served all-integer path (ivf_topk_trained): the trained path is
    what production would run, so its quality is pinned too, not just its
    plumbing. On this NEAR-RANDOM fixture a learned partition genuinely
    spreads a query's barely-above-noise neighbors (random vectors are
    every space-partitioning index's worst case — same caveat as the LSH
    floor above): measured recall@10 is 0.7 at probe 4 and 0.9 at probe 8
    of 16. Pin the probe-8 operating point; clustered real embeddings
    reach the same recall at far lower probe."""
    from steam_data_engineer_project_spark.operators.clustering import (
        ivf_topk_trained,
        train_ivf_codebook,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    book = train_ivf_codebook(
        emb, "embedding", "vec_id", n_centroids=16, n_iter=3
    )
    got = [
        r.vec_id
        for r in ivf_topk_trained(
            emb, "embedding", "vec_id", 0, k=10, n_probe=8, codebook=book
        ).collect()
    ]
    recall = len(set(exact_top10) & set(got)) / len(exact_top10)
    assert recall >= 0.85, f"trained-codebook ivf recall@10 fell to {recall}"
