"""Similarity search over embedding columns (array<float>).

- brute_force_cosine_topk: exact top-k by cosine similarity against a query
  vector. The dot product / norms are built-in higher-order functions
  (``aggregate`` / ``zip_with``) — JVM-side, no Python. The query vector is a
  literal broadcast into the plan, so the scan is embarrassingly parallel and
  the only shuffle is the final global top-k (a TakeOrderedAndProject, which
  does per-partition top-k then merges k·p rows on the driver — safe at any
  scale for small k).

- lsh_bucket_cosine_topk: sign-projection LSH prefilter. Each vector gets a
  bucket id from the signs of ``LSH_PLANES`` chosen coordinates (axis-aligned
  hyperplanes — deterministic, engine-portable); only vectors in buckets
  within ``LSH_PROBE_HAMMING`` bit flips of the query's are scored.
  lsh_bucket_cosine_topk_pruned serves the same answer from a table written
  partitioned by the bucket, where the probe set prunes the scan itself.

- ivf_cosine_topk: IVF coarse quantizer over a deterministic first-ids
  codebook; probes the centroids nearest the query and exact-scores their
  members. The trained-codebook IVF path is clustering.ivf_topk_trained.

Every operator takes the query vector as a list — a literal of the plan —
so the scan is embarrassingly parallel and no plan joins the query back in.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: sign-projection LSH: hyperplanes per bucket id (2^LSH_PLANES buckets) and
#: the coordinate stride, coprime to the usual embedding widths
LSH_PLANES = 8
LSH_STRIDE = 7
#: multi-probe radius of both LSH top-k operators in bit flips: the query
#: bucket plus its one- and two-bit-flip neighbors, 37 of 256 buckets
LSH_PROBE_HAMMING = 2
#: partition column of the bucketed layout
BUCKET_COL = "bucket"


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.

    Returns (id_col, cosine) with the k most similar rows, ties broken by id
    for determinism.
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = df.select(
        F.col(id_col), F.round(cosine_similarity(F.col(vec_col), q), 6).alias("cosine")
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def lsh_bucket_id(vec: Column) -> Column:
    """Sign-projection LSH bucket: bit j = (vec[(j*LSH_STRIDE) % dim] > 0).

    Axis-aligned planes with a coprime stride give a deterministic,
    engine-portable 2^LSH_PLANES-bucket partitioning (a degenerate but valid
    member of the random-hyperplane family; full random planes would be a
    literal matrix built the same way). The modulus is the vector's own
    length (``size(vec)``), so any embedding dimension works — the data-side
    and query-side bucket computations must agree on it.
    """
    dim = F.size(vec)
    bits = [
        F.when(
            F.element_at(
                vec, (F.lit(j * LSH_STRIDE) % dim + F.lit(1)).cast("int")
            ).cast("double")
            > 0.0,
            F.lit(1 << j),
        ).otherwise(F.lit(0))
        for j in range(LSH_PLANES)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def query_bucket_id(query_vec: list[float]) -> int:
    """Python-side mirror of :func:`lsh_bucket_id` for a literal query vector.

    Uses the same ``% len(vec)`` modulus as the Column version so data-side
    and query-side buckets always agree, at any embedding dimension.
    """
    bucket = 0
    for j in range(LSH_PLANES):
        if float(query_vec[(j * LSH_STRIDE) % len(query_vec)]) > 0.0:
            bucket += 1 << j
    return bucket


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: self-join within sign-projection
    LSH buckets, then keep pairs whose exact cosine clears ``threshold``.

    The bucket equi-join bounds candidates at ~n²/2^LSH_PLANES instead of n²
    — the same banded-LSH shape as MinHash dedup, but over dense vectors. At
    scale, write the table bucketed by the LSH id so the self-join is
    co-partitioned (no shuffle); raising ``LSH_PLANES`` trades recall for a
    smaller candidate set. Cosine is computed JVM-side (higher-order
    functions) and rounded to 6 dp before the threshold so engines agree on
    borderline pairs.

    Each vector's norm is computed ONCE per row before the self-join (it
    depends only on that row), so the per-candidate-pair work is a single
    dot-product fold instead of three array folds — the interpreted-HOF
    cost is per PAIR (~n²/2^LSH_PLANES of them), which made the per-row
    hoist worth 3× on the pair stage. The cosine value is bit-identical:
    the same fold over the same array yields the same double whether it
    runs before or after the join, and the ``dot / (norm_l * norm_r)``
    expression tree is unchanged.

    Returns (id_a, id_b, cosine) with id_a < id_b.
    """
    b = df.select(
        F.col(id_col),
        F.col(vec_col),
        lsh_bucket_id(F.col(vec_col)).alias("bucket"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    left = b.alias("l")
    right = b.alias("r")
    pairs = left.join(
        right,
        (F.col("l.bucket") == F.col("r.bucket"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
    ).select(
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
        F.round(
            _dot(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}"))
            / (F.col("l.nrm") * F.col("r.nrm")),
            6,
        ).alias("cosine"),
    )
    return pairs.filter(F.col("cosine") >= F.lit(float(threshold)))


def ivf_assignments(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_centroids: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: assign every vector to its nearest centroid.

    Centroids are the embeddings of the ``n_centroids`` smallest ids —
    deterministic and engine-portable (the trained-codebook path is
    operators/clustering.ivf_topk_trained). Assignment is a broadcast
    nested-loop over the tiny centroid set followed by a
    map-side-combinable ``max(struct(...))`` argmax — one narrow pass over
    the data, no wide shuffle, so it scales linearly.

    Ties on the (6-dp-rounded) cosine break toward the smallest centroid id.
    Returns (assignments(id, centroid_id, centroid_cos), centroids).
    """
    centroids = df.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cv")
    )
    scored = df.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col),
        F.col("centroid_id"),
        F.round(cosine_similarity(F.col(vec_col), F.col("cv")), 6).alias("c_cos"),
    )
    best = (
        scored.groupBy(id_col)
        .agg(F.max(F.struct(F.col("c_cos"), (-F.col("centroid_id")).alias("neg"))).alias("m"))
        .select(
            F.col(id_col),
            (-F.col("m.neg")).alias("centroid_id"),
            F.col("m.c_cos").alias("centroid_cos"),
        )
    )
    return best, centroids


def ivf_cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF ANN top-k: probe the ``n_probe`` centroids nearest the query, then
    exact-score only vectors assigned to those centroids.

    The scale path: with the table written partitioned by ``centroid_id``
    (the inverted file), the broadcast probe join prunes the scan to
    n_probe/n_centroids of the data via dynamic partition pruning — no
    driver-side collect anywhere in the plan.

    Returns (id_col, centroid_id, cosine) ordered by rounded cosine, id.
    """
    assigned, centroids = ivf_assignments(df, vec_col, id_col, n_centroids)
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    probe = (
        centroids.select(
            "centroid_id",
            F.round(cosine_similarity(F.col("cv"), q), 6).alias("q_cos"),
        )
        .orderBy(F.desc("q_cos"), F.asc("centroid_id"))
        .limit(n_probe)
        .select("centroid_id")
    )
    candidates = assigned.join(F.broadcast(probe), "centroid_id").join(
        df.select(F.col(id_col), F.col(vec_col)), id_col
    )
    scored = candidates.select(
        F.col(id_col),
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.round(cosine_similarity(F.col(vec_col), q), 6).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def lsh_bucket_cosine_topk_pruned(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """The SCALE PATH of :func:`lsh_bucket_cosine_topk`: the table has been
    WRITTEN partitioned by its LSH bucket (``write.partitionBy(BUCKET_COL)``),
    so the probe set becomes a literal IN-predicate on the partition column —
    the scan reads only the probed bucket directories (static partition
    pruning: the FileScan's PartitionFilters carry the probe list, asserted
    in tests/test_plans.py). Probe buckets are enumerated driver-side
    from the query bucket (37 ids at Hamming-2 — metadata, not data).
    Results are identical to the in-plan variant by construction."""
    q_bucket = query_bucket_id(query_vec)
    probes = [
        b
        for b in range(1 << LSH_PLANES)
        if bin(b ^ q_bucket).count("1") <= LSH_PROBE_HAMMING
    ]
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = df.filter(F.col(BUCKET_COL).isin(probes)).select(
        F.col(id_col),
        F.col(BUCKET_COL).cast("long").alias("bucket"),
        F.round(cosine_similarity(F.col(vec_col), q), 6).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def lsh_bucket_cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Approximate top-k: score only vectors in buckets within
    ``LSH_PROBE_HAMMING`` bit flips of the query's LSH bucket (multi-probe —
    Hamming-2 probing recovers most neighbors lost to one or two sign flips
    at the cost of 37 candidate buckets out of ``2^LSH_PLANES``).

    Returns (id_col, bucket, cosine). On a table written bucketed/partitioned
    by the LSH id the bucket predicate prunes the scan; here it prunes
    compute.
    """
    q_bucket = query_bucket_id(query_vec)
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    bucketed = df.select(
        F.col(id_col),
        F.col(vec_col),
        lsh_bucket_id(F.col(vec_col)).alias("bucket"),
    ).filter(
        F.bit_count(F.col("bucket").bitwiseXOR(F.lit(q_bucket)))
        <= LSH_PROBE_HAMMING
    )
    scored = bucketed.select(
        F.col(id_col),
        F.col("bucket").cast("long").alias("bucket"),
        F.round(cosine_similarity(F.col(vec_col), q), 6).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def quantize_int8(vec: Column | str) -> Column:
    """Symmetric per-vector int8 quantization: scale = 127 / max|x_i|,
    q_i = floor(x_i·scale + 0.5) ∈ [-127, 127].

    The per-vector scale cancels in cosine similarity, so quantized vectors
    are scored directly — no dequantization, no stored scale. floor(x+0.5)
    is used instead of round() because its half-way behavior is identical
    across engines (Java round-half-up vs RE2/C round-half-even would make
    an oracle flaky on exact .5 products).

    At scale this is the classic storage/bandwidth trade: an int8 vector is
    4× narrower than float32 on the wire and in cache, which is usually the
    difference between a shuffle-bound and a CPU-bound ANN pass; the recall
    cost is pinned by tests/test_recall.py.

    Pass the column NAME (str) on hot build paths: the expression is then
    built by ONE SQL-parser call instead of the higher-order-function
    builders' dozens of py4j round trips (~85 → ~30 ms per construction,
    measured round 13 — driver-overhead class, guide §7.3). Both forms
    produce the identical expression tree (double literals are explicit in
    the SQL so no DECIMAL sneaks in)."""
    if isinstance(vec, str):
        v = f"`{vec}`"
        return F.expr(
            f"transform({v}, x -> floor(CAST(x AS DOUBLE) * (CAST(127.0 AS DOUBLE)"
            f" / greatest(array_max(transform({v}, y -> abs(CAST(y AS DOUBLE)))),"
            f" 1E-30)) + 0.5D))"
        )
    amax = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    scale = F.lit(127.0) / F.greatest(amax, F.lit(1e-30))
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * scale + F.lit(0.5))
    )
