"""Embedding clustering + within-cluster semantic dedup (SemDeDup-shaped).

A 100 TB training-data pipeline can't pairwise-compare its corpus — the
standard recipe (SemDeDup, Abbas et al. 2023; public arXiv) is: cluster the
embedding space coarsely, then look for near-duplicates ONLY inside each
cluster, turning an O(N²) pair space into Σ O(|cluster|²) with bounded
cluster sizes. Both halves live here:

- :func:`kmeans_int8`: Lloyd's k-means over int8-quantized embeddings with
  a FIXED iteration count. Everything after quantization is 64-bit integer
  arithmetic, so the result is bit-identical on any engine and any row
  order — which is what lets a DuckDB oracle replay it exactly:

  * distance: ||x − s/c||² (integer sum vector ``s``, member count ``c``)
    is computed as the all-integer ``D = Σᵢ (c·xᵢ − sᵢ)² = c²·||x − μ||²``
    followed by ONE double division ``D / c²`` — c² differs per centroid,
    so the division is required for a fair argmin, and it is engine-exact:
    both engines convert the same int64s and perform the same single IEEE
    division, which rounds identically. Bound: |c·xᵢ − sᵢ| ≤ 2·127·N keeps
    D inside int64 for N·√dim up to ~2×10⁸ vectors per k-means domain;
    shard the corpus (by language/source) before clustering past that,
    which the pipeline wants anyway.
  * ties break toward the smallest centroid id; an emptied cluster keeps
    its previous (s, c) state — both rules are deterministic and mirrored
    in the oracle.
  * init: the embeddings of the ``k`` smallest ids (a trained codebook
    would be loaded the same way — as k literal rows).

  Scale shape: per iteration, ONE narrow assignment pass (an Arrow-batched
  ``mapInArrow`` computing the N×k distance matrix as int64 numpy matrix
  algebra — no join, no shuffle; interpreted per-element expressions are
  ~1000× slower at k·dim ≈ 20k ops/row and this is exactly the
  vectorized-linear-algebra case the Arrow batch APIs exist for) plus one
  map-side-combinable groupBy producing ≤ k rows. The only driver-side
  traffic is that k-row centroid state per iteration — the same
  bounded-collect class as loading an IVF codebook. Total cost:
  ``n_iter`` scans, zero wide shuffles. Pick k ∝ N (e.g. N/500) so the
  expected cluster size — and with it the pair stage below — stays
  constant as the corpus grows.

- :func:`semantic_dedup_pairs`: within-cluster near-duplicate pairs by
  int8 cosine. The self-join key is the cluster id, so the pair space is
  cluster-bounded, never corpus². The threshold test is exact-integer
  (``10⁴·dot² ≥ ⌊10⁴·t²⌋·n₁·n₂`` with ``dot > 0``) and the reported
  cosine is floored to integer micro-units, so pairs hash identically
  across engines.

No reference counterpart (the reference has no embedding surface) —
engine-original, SURVEY.md §2.12.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import quantize_int8


def _int_norm_sq(col: str):
    """Σv² over an array<long> column, built by ONE SQL-parser call — the
    HOF builder form costs dozens of py4j round trips per construction
    (guide §7.3 driver-overhead class; measured ~3× cheaper round 13).
    Identical expression tree, exact int64 fold either way."""
    return F.expr(
        f"aggregate(`{col}`, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"
    )


def _assign_to_centroids(
    base: DataFrame,
    id_col: str,
    cur: list[tuple[int, list[int], int]],
    *,
    n_probe: int = 1,
) -> DataFrame:
    """One narrow assignment pass: (id, qv, cluster_id, dist) for the
    centroid state ``cur`` (sorted by cid). The exact squared distance
    ||x − s/c||² is the all-integer D = c²·Σx² − 2c·(x·s) + Σs²
    (algebraically identical to Σ(c·xᵢ − sᵢ)², still int64-exact) divided
    once by c² — one IEEE division, identical on every engine. np.argmin
    returns the FIRST minimum and ``cur`` is cid-ascending, so ties break
    to the smallest cid, mirroring the oracle's ORDER BY (dist, cid).

    ``n_probe > 1`` emits the top-``n_probe`` NEAREST centroids per input
    row instead of just the argmin — min(n_probe, k) rows per vector with
    an extra ``probe_rank`` column (0 = nearest; stable sort, so rank
    ties break to the smallest cid). This is IVF-style multi-probe
    (similarity.ivf_cosine_topk's n_probe, applied to the semantic tier): a
    vector near a Voronoi boundary also searches its runner-up cluster(s),
    which is what makes cluster-scoped dedup robust to boundary splits —
    the measured recall knee in tools/codebook_drift.py.

    Arrow-batched mapInArrow: the N×k distance matrix is int64 numpy
    matrix algebra — the vectorized-linear-algebra case the Python batch
    APIs exist for (interpreted per-element HOF expressions are ~1000×
    slower once k·dim reaches 10⁴ ops per row). The qv ListArray arrives
    as ONE contiguous int64 buffer per batch (fixed dim), so the N×dim
    matrix is a zero-copy flat-buffer reshape and the id/qv columns pass
    through untouched — the per-cell ndarray wrapping the earlier
    mapInPandas form paid (round 12, guide §4.2) is gone; the distance
    math and tie rules are unchanged, so assignments are bit-identical.

    ``id_col`` must be int64 (the emitted Arrow schema declares
    ``{id_col} long`` and the column passes through untouched — a
    narrower/string id would fail the strict Arrow schema check at
    runtime; every caller in this codebase uses long ids)."""
    # lazy: keep numpy/pandas out of the operators package's import path —
    # every other operators module is pure pyspark.
    import numpy as np

    cids = np.array([cid for cid, _, _ in cur], dtype=np.int64)
    S = np.array([s for _, s, _ in cur], dtype=np.int64)
    C = np.array([c for _, _, c in cur], dtype=np.int64)
    # int64-overflow guard: each D term is bounded by dim·(2·127·c_max)²
    # (|c·xᵢ − sᵢ| ≤ 2·127·c). numpy wraps silently past 2^63 — corrupt
    # assignments with no signal — so exceeding the documented ~2×10⁸-vector
    # bound must raise loudly here instead.
    dim = S.shape[1] if S.ndim == 2 else 0
    c_max = int(C.max()) if len(C) else 0
    if dim * (2 * 127 * c_max) ** 2 >= 2**63:
        raise ValueError(
            f"kmeans int64 distance bound exceeded (dim={dim}, max cluster "
            f"count={c_max}): shard the corpus (by language/source) before "
            "clustering — see the module docstring's ~2e8-vector bound"
        )
    ss, c2i = np.einsum("kd,kd->k", S, S), C * C
    c2f = c2i.astype(np.float64)
    p = max(1, min(int(n_probe), len(cur)))

    def fn(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            X = np.asarray(rb.column(1).flatten()).reshape(n, dim)
            dots = X @ S.T
            xx = np.einsum("nd,nd->n", X, X)
            D = c2i[None, :] * xx[:, None] - 2 * C[None, :] * dots + ss[None, :]
            dist = D.astype(np.float64) / c2f[None, :]
            if p == 1:
                j = np.argmin(dist, axis=1)
                yield pa.RecordBatch.from_arrays(
                    [
                        rb.column(0),
                        rb.column(1),
                        pa.array(cids[j]),
                        pa.array(dist[np.arange(n), j]),
                    ],
                    names=[id_col, "qv", "cluster_id", "dist"],
                )
            else:
                # stable sort keeps the cid-ascending input order on ties
                # (same tie rule as the argmin path's first-minimum)
                J = np.argsort(dist, axis=1, kind="stable")[:, :p]
                rows = np.arange(n)[:, None]
                idx = pa.array(np.repeat(np.arange(n, dtype=np.int64), p))
                yield pa.RecordBatch.from_arrays(
                    [
                        rb.column(0).take(idx),
                        rb.column(1).take(idx),
                        pa.array(cids[J].ravel()),
                        pa.array(dist[rows, J].ravel()),
                        pa.array(np.tile(np.arange(p, dtype=np.int64), n)),
                    ],
                    names=[id_col, "qv", "cluster_id", "dist", "probe_rank"],
                )

    schema = f"{id_col} long, qv array<long>, cluster_id long, dist double"
    if p > 1:
        schema += ", probe_rank long"
    # explicit projection before the opaque op (guide §2.3): only the id
    # and vector cross the Python boundary, whatever else the caller's
    # frame carries.
    return base.select(id_col, "qv").mapInArrow(fn, schema=schema)


def _train_partials(
    base: DataFrame,
    id_col: str,
    cur: list[tuple[int, list[int], int]],
    *,
    sum_col: str = "qv",
) -> DataFrame:
    """One Lloyd TRAINING pass fused into a single Arrow task pass: assign
    each vector to its nearest centroid (bit-identical distance math to
    :func:`_assign_to_centroids` — same int64 D, same single division, same
    first-minimum tie rule) and emit per-TASK partial sums
    (cluster_id, c, s array<long>) instead of per-row assignments.

    ``sum_col`` names the array<long> column whose per-cluster sums are
    emitted — ``"qv"`` (the default) is the Lloyd update itself; the
    trained-codebook build (:func:`train_ivf_codebook`) passes its
    micro-unit NORMALIZED vectors instead, so the same fused pass that
    assigns by qv-distance sums a different integer vector per row (the
    assignment math never touches sum_col).

    Why (guide §2.3 / §4.2, measured round 12): the training update only
    needs Σqv and the count per cluster. Aggregating the N assignment rows
    JVM-side costs a 64-column sum whose 65 aggregate buffers exceed
    ``spark.sql.codegen.maxFields`` (100), so the whole-stage falls back to
    interpreted evaluation — measured 0.66 s per iteration on a 2000-row
    cached base vs 0.15 s for the same agg shape with one buffer. Doing the
    partial sums in numpy inside the SAME Arrow pass that already computed
    the distance matrix shrinks the downstream input from N rows to at
    most (#tasks)·k rows — at any scale the per-row work rides the
    vectorized matmul and only min(rows-per-task, k)·dim longs leave each
    task (codebook-class). Callers fold the collected partials DRIVER-side
    via :func:`_collect_partials` (:func:`kmeans_int8`,
    :func:`train_ivf_codebook`): a JVM
    ``groupBy().agg(sum(s0)..sum(s63))`` over ≤ (#tasks)·k rows spent more
    wall time on py4j construction of the 64 aggregate Columns (~0.3 s per
    iteration) and the interpreted 65-buffer agg than the driver spends
    summing the same rows in exact Python ints — measured round 12, the
    same guide-§7.3 driver-overhead class as plan analysis. With
    corpus-proportional k the raw collect stops being bounded once tasks
    hold fewer rows than k (round-13: _collect_partials then reduces the
    partials to ≤ k rows distributed — narrow shuffle + Arrow fold —
    before collecting, keeping driver traffic O(k) at any task count).

    Exactness: the partial sums are int64 numpy adds — exact, hence
    associative, so task/batch boundaries cannot change the totals the
    driver folds (same argument as the module docstring's ~2e8-vector
    int64 bound)."""
    import numpy as np

    cids = np.array([cid for cid, _, _ in cur], dtype=np.int64)
    S = np.array([s for _, s, _ in cur], dtype=np.int64)
    C = np.array([c for _, _, c in cur], dtype=np.int64)
    dim = S.shape[1] if S.ndim == 2 else 0
    c_max = int(C.max()) if len(C) else 0
    if dim * (2 * 127 * c_max) ** 2 >= 2**63:
        raise ValueError(
            f"kmeans int64 distance bound exceeded (dim={dim}, max cluster "
            f"count={c_max}): shard the corpus (by language/source) before "
            "clustering — see the module docstring's ~2e8-vector bound"
        )
    k = len(cur)
    two_cols = sum_col != "qv"
    ss, c2i = np.einsum("kd,kd->k", S, S), C * C
    c2f = c2i.astype(np.float64)

    def fn(batches):
        # mapInArrow + flat-values reshape: each batch's qv ListArray is
        # one contiguous int64 buffer (fixed dim per vector), so the N×dim
        # matrix is a zero-copy reshape — no per-row ndarray wrapping
        # (the pandas Series-of-arrays path measured slower than the JVM
        # fold it replaced; guide §4.2's "hand whole batches to native
        # code" only pays when the batch really is one buffer).
        import pyarrow as pa

        sums = np.zeros((k, dim), dtype=np.int64)
        counts = np.zeros(k, dtype=np.int64)
        seen = False
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            seen = True
            X = np.asarray(rb.column(0).flatten()).reshape(n, dim)
            M = (
                np.asarray(rb.column(1).flatten()).reshape(n, dim)
                if two_cols
                else X
            )
            dots = X @ S.T
            xx = np.einsum("nd,nd->n", X, X)
            D = c2i[None, :] * xx[:, None] - 2 * C[None, :] * dots + ss[None, :]
            j = np.argmin(D.astype(np.float64) / c2f[None, :], axis=1)
            counts += np.bincount(j, minlength=k)
            np.add.at(sums, j, M)
        if not seen:
            return
        nz = np.flatnonzero(counts)
        # s as ONE list<int64> column (offsets over the flat sum buffer):
        # 3 output columns regardless of dim, and the driver-side fold
        # reads each row's vector as a single list instead of 64 fields.
        offsets = pa.array(
            np.arange(0, (len(nz) + 1) * dim, dim, dtype=np.int32)
        )
        s_col = pa.ListArray.from_arrays(
            offsets, pa.array(sums[nz].ravel())
        )
        yield pa.RecordBatch.from_arrays(
            [pa.array(cids[nz]), pa.array(counts[nz]), s_col],
            names=["cluster_id", "c", "s"],
        )

    cols_in = ("qv", sum_col) if two_cols else ("qv",)
    return base.select(*cols_in).mapInArrow(
        fn, schema="cluster_id long, c long, s array<long>"
    )


#: max partial rows the training loop will pull to the driver RAW. The
#: fused pass emits ≤ min(rows-per-task, k) rows per task, so the collect
#: is bounded by n_tasks·k — tiny at registry scale (one task, k ≈ N/62),
#: but k itself grows with N under the corpus-proportional sizing rule, so
#: once tasks hold fewer rows than k the partials stop reducing map-side
#: and the raw collect approaches one row per input vector (round-12
#: verdict finding #1). Past this bound the partials are reduced to ≤ k
#: rows DISTRIBUTED first (:func:`_reduce_partials`); at 64-long vectors
#: the bound caps raw driver traffic at ~35 MB per iteration.
_DRIVER_FOLD_MAX_PARTIAL_ROWS = 1 << 16


def _reduce_partials(partials: DataFrame, dim: int) -> DataFrame:
    """Distributed reduction of :func:`_train_partials` output to ≤ one row
    per cluster: shuffle the 3-column partials on ``cluster_id`` — narrow
    rows, NOT the 64-column JVM agg whose 65 aggregate buffers fell out of
    whole-stage codegen (``spark.sql.codegen.maxFields``) — and fold each
    cluster's rows inside one Arrow task. Hash partitioning routes every
    row of a cluster to one task, so the output is exactly one row per
    non-empty cluster and the driver collect stays O(k) however many
    upstream tasks emitted partials. Exactness: int64 adds are exact,
    hence associative — shuffle/batch boundaries cannot change totals."""
    import numpy as np

    def fn(batches):
        import pyarrow as pa

        acc_s: dict[int, object] = {}
        acc_c: dict[int, int] = {}
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            cids = np.asarray(rb.column(0))
            cs = np.asarray(rb.column(1))
            S = np.asarray(rb.column(2).flatten()).reshape(n, dim)
            order = np.argsort(cids, kind="stable")
            uc, starts = np.unique(cids[order], return_index=True)
            sums_g = np.add.reduceat(S[order], starts, axis=0)
            cnt_g = np.add.reduceat(cs[order], starts)
            for i, cid in enumerate(uc):
                cid = int(cid)
                if cid in acc_s:
                    acc_s[cid] += sums_g[i]
                    acc_c[cid] += int(cnt_g[i])
                else:
                    acc_s[cid] = sums_g[i].copy()
                    acc_c[cid] = int(cnt_g[i])
        if not acc_s:
            return
        cids_out = sorted(acc_s)
        sums = np.stack([acc_s[c] for c in cids_out])
        counts = np.array([acc_c[c] for c in cids_out], dtype=np.int64)
        offsets = pa.array(
            np.arange(0, (len(cids_out) + 1) * dim, dim, dtype=np.int32)
        )
        s_col = pa.ListArray.from_arrays(offsets, pa.array(sums.ravel()))
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.array(cids_out, dtype=np.int64)), pa.array(counts), s_col],
            names=["cluster_id", "c", "s"],
        )

    return partials.repartition("cluster_id").mapInArrow(
        fn, schema="cluster_id long, c long, s array<long>"
    )


def _collect_partials(
    partials: DataFrame, *, n_tasks: int, k: int, dim: int
) -> list:
    """Collect training partials with driver traffic kept O(k): when the
    upstream pass could emit more than ``_DRIVER_FOLD_MAX_PARTIAL_ROWS``
    rows (its per-task cap is min(rows-per-task, k), so n_tasks·k bounds
    the total), reduce them to ≤ k rows DISTRIBUTED first. At registry
    scale n_tasks·k is tiny and the raw collect skips the extra shuffle
    stage; the callers' exact-integer driver fold is correct for either
    form (partial or fully-reduced rows)."""
    if n_tasks * k > _DRIVER_FOLD_MAX_PARTIAL_ROWS:
        partials = _reduce_partials(partials, dim)
    return partials.collect()  # the folded state is the next pass's literal


def _pair_scores_arrow(
    pairs_df: DataFrame, pass_cols: list[str], t_sq_104: int
) -> DataFrame:
    """Vectorized exact-integer pair scoring (Arrow-batched mapInArrow):
    consumes candidate-pair rows carrying ``qa``/``qb`` (int8-quantized
    vectors as array<long>) and their precomputed squared norms ``na``/
    ``nb``, applies the exact-integer threshold test
    ``dot > 0 ∧ 10⁴·dot² ≥ t_sq_104·na·nb``, and emits ``pass_cols`` +
    ``cos_micro`` for the survivors.

    Replaces the interpreted per-pair zip_with/aggregate fold (Spark's
    higher-order functions are CodegenFallback — evaluated per element per
    pair), which dominated the pair stage: the N×dim dot products become
    one int64 numpy matmul per batch. Results are BIT-IDENTICAL to the
    fold by construction, not by luck:

    - the dot is int64 arithmetic — exact, hence associative, so the
      accumulation order numpy picks cannot matter (the int64-overflow
      bound is the module docstring's ~2e8-vector shard rule);
    - the threshold test is pure int64 compares (10⁴·dot² ≤ ~1.1e16 and
      t²·na·nb ≤ ~9.6e15 both sit far inside int64);
    - cos_micro = floor(dot / sqrt(na·nb) · 10⁶ + 0.5) is the same
      sequence of single correctly-rounded IEEE-754 double ops in numpy
      as in the JVM (int64→double conversions are exact at these
      magnitudes), so every engine floors the same double.
    """
    import numpy as np

    cols_in = pass_cols + ["qa", "qb", "na", "nb"]

    def fn(batches):
        # mapInArrow + flat-values reshape — qa/qb arrive as ONE contiguous
        # int64 buffer per batch (fixed dim), so the pair matrix is a
        # zero-copy reshape; the pandas Series-of-ndarrays form of this
        # pass measured SLOWER than the JVM fold it replaces.
        import pyarrow as pa

        ia, ib = len(pass_cols), len(pass_cols) + 1
        ina, inb = len(pass_cols) + 2, len(pass_cols) + 3
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            A = np.asarray(rb.column(ia).flatten()).reshape(n, -1)
            B = np.asarray(rb.column(ib).flatten()).reshape(n, -1)
            dot = np.einsum("nd,nd->n", A, B)
            na = np.asarray(rb.column(ina))
            nb = np.asarray(rb.column(inb))
            keep = (dot > 0) & (10_000 * dot * dot >= t_sq_104 * na * nb)
            if not keep.any():
                continue
            cos_micro = np.floor(
                dot[keep].astype(np.float64)
                / np.sqrt((na[keep] * nb[keep]).astype(np.float64))
                * 1e6
                + 0.5
            ).astype(np.int64)
            cols = [
                pa.array(np.asarray(rb.column(i))[keep])
                for i in range(len(pass_cols))
            ] + [pa.array(cos_micro)]
            yield pa.RecordBatch.from_arrays(cols, names=pass_cols + ["cos_micro"])

    schema = ", ".join(f"{c} long" for c in pass_cols) + ", cos_micro long"
    return pairs_df.select(*cols_in).mapInArrow(fn, schema=schema)


def quantized_vectors(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(id, qv): the int8-quantized embedding as array<long> — the shared
    input of both halves (clustering and pair scoring must quantize the
    same way or the distance spaces disagree)."""
    return df.select(F.col(id_col), quantize_int8(vec_col).alias("qv"))


def kmeans_int8(
    df: DataFrame | None,
    vec_col: str,
    id_col: str,
    *,
    k: int = 8,
    n_iter: int = 3,
    qdf: DataFrame | None = None,
    seed: str = "id",
    state_out: list | None = None,
) -> DataFrame:
    """Fixed-iteration integer Lloyd k-means; returns one row per input id:
    (id, cluster_id, dist) where dist is the exact squared euclidean
    distance to the assigned centroid mean in quantized space — comparable
    across clusters.

    Pass ``qdf`` (a precomputed :func:`quantized_vectors` frame) to share
    the quantization pass with other stages (the semdedup pair stage does).
    The quantized base is persisted for the Lloyd loop only — its seed
    collect and ``n_iter`` training passes would otherwise each re-derive
    it from the raw scan — and released before this returns, so no call
    leaves a cache entry behind. The returned assignment plan reads the
    base once more; a caller that reads that plan more than once shares it
    with ``localCheckpoint()`` (the semdedup suite does).

    ``seed`` picks the k seed rows — both engine-exact and oracle-replayable:

    - ``"id"`` (default): the k smallest ids (a true ORDER BY id LIMIT k
      selection, so sparse or non-zero-based id spaces seed exactly k
      clusters — on dense 0-based ids this equals the historical
      ``id < k`` filter the oracles mirror).
    - ``"hash"``: the k smallest md5(id) values — id-order-independent,
      for corpora whose low ids are correlated (a single-domain crawl
      prefix), where id-order seeding puts every centroid in one semantic
      cluster and the fixed iteration count can't recover.

    Seeding fewer than k clusters (corpus smaller than k) warns and
    proceeds with the available rows; an empty corpus raises.

    ``state_out`` (a list) receives the FINAL (cid, s, c) centroid state —
    the frozen model an incremental pipeline assigns LATER batches against
    (:func:`incremental_semantic_verdicts`) without re-clustering."""
    base = qdf if qdf is not None else quantized_vectors(df, vec_col, id_col)
    base.persist()
    try:
        # init: k seed rows, state (cid, s=qv, c=1) — bounded k-row collect
        # (own job: the seeds are the first Lloyd pass's literal).
        if seed == "hash":
            order = [
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("s:"), F.col(id_col).cast("string"))), 1, 8
                    ),
                    16,
                    10,
                ).cast("long"),
                F.col(id_col),
            ]
        elif seed == "id":
            order = [F.col(id_col)]
        else:
            raise ValueError(f"seed must be 'id' or 'hash', got {seed!r}")
        cents = sorted(
            (int(r[0]), [int(v) for v in r[1]], 1)
            for r in base.orderBy(*order).limit(k).select(id_col, "qv").collect()
        )
        if not cents:
            raise ValueError(f"empty corpus: no rows to seed {k} centroids from")
        if len(cents) < k:
            import warnings

            warnings.warn(
                f"seeded only {len(cents)} of {k} requested centroids "
                f"(corpus has fewer rows); proceeding with {len(cents)}",
                stacklevel=2,
            )

        # task count of the Arrow training passes (narrow over base — same
        # partitioning); plan-only, no job. Decides per-iteration whether the
        # partials collect is bounded enough to fold raw on the driver or must
        # be reduced to ≤ k rows distributed first (_collect_partials).
        n_tasks = base.rdd.getNumPartitions()
        dim = len(cents[0][1])
        for _ in range(n_iter):
            # fused assign + per-task partial sums (one Arrow pass; guide
            # §2.3 map-side aggregation — see _train_partials for the measured
            # rationale), folded DRIVER-side over the collected rows — bounded
            # at O(k) by _collect_partials (raw ≤ n_tasks·k rows when small,
            # distributed-reduced to ≤ k rows past the bound), the same
            # bounded-collect class as this loop's own per-iteration state and
            # cheaper than the JVM groupBy it replaced (see _train_partials'
            # docstring for the measured py4j/agg cost). Python ints are
            # exact, so the fold order cannot change totals.
            new: dict[int, tuple[list[int], int]] = {}
            for r in _collect_partials(
                _train_partials(base, id_col, cents),
                n_tasks=n_tasks,
                k=len(cents),
                dim=dim,
            ):
                cid, c, s = int(r[0]), int(r[1]), r[2]
                prev = new.get(cid)
                if prev is None:
                    new[cid] = ([int(v) for v in s], c)
                else:
                    ps, pc = prev
                    new[cid] = ([a + int(b) for a, b in zip(ps, s)], pc + c)
            # an emptied cluster keeps its previous state (deterministic rule,
            # mirrored in the SQL oracle)
            cents = sorted(
                (cid, *(new.get(cid, (s, c)))) for cid, s, c in cents
            )
    finally:
        base.unpersist()

    if state_out is not None:
        state_out.extend(cents)
    return _assign_to_centroids(base, id_col, cents).drop("qv")


def semantic_dedup_pairs(
    df: DataFrame | None,
    vec_col: str,
    id_col: str,
    *,
    k: int = 8,
    n_iter: int = 3,
    threshold: float = 0.95,
    qdf: DataFrame | None = None,
    assignments: DataFrame | None = None,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup pair stage: k-means the embeddings, then emit within-cluster
    pairs whose int8 cosine ≥ threshold. Returns
    (id_a, id_b, cluster_id, cos_micro) with id_a < id_b and cos_micro =
    ⌊cosine·10⁶ + 0.5⌋ (exact integer across engines; cosine itself is
    dot/√(n₁n₂) with integer dot/norms and IEEE-exact sqrt).

    The join shuffles on cluster_id only — pair work is Σ|cluster|², the
    whole point of clustering first. Skewed giant clusters are the known
    failure mode; ``max_cluster_size`` is the guard, and its capped output
    intentionally changes SHAPE to stay genuinely bounded (a pure
    sub-splitting scheme cannot be: a flood of IDENTICAL vectors shares
    any content-derived key, so one block stays quadratic):

    1. quantization-IDENTICAL groups collapse to linear STAR pairs —
       (min-id representative, member) with cos_micro = 10⁶ exactly. A
       boilerplate flood of n copies costs n−1 pairs, not n²/2, and no
       duplicate row is ever lost.
    2. only the DISTINCT representatives enter the all-pairs near tier,
       sub-split into ⌈distinct/cap⌉ blocks by content hash (distinct
       contents spread uniformly, so blocks are truly bounded). A
       near-but-not-identical pair straddling a block boundary, or one
       whose non-representative member was collapsed in step 1, is the
       deliberately-traded tail recall — its representative still pairs.

    Off by default — the registry suite relies on corpus-proportional k
    instead; the cap is for corpora whose embedding space genuinely
    collapses, where no k keeps clusters bounded.

    ``qdf`` / ``assignments`` let a caller that already clustered (e.g. to
    report the assignment itself) share those frames instead of paying the
    quantization and the Lloyd iterations twice."""
    if max_cluster_size is not None and max_cluster_size <= 0:
        raise ValueError(f"max_cluster_size must be positive, got {max_cluster_size}")
    if qdf is None:
        qdf = quantized_vectors(df, vec_col, id_col)
    if assignments is None:
        assignments = kmeans_int8(
            None, vec_col, id_col, k=k, n_iter=n_iter, qdf=qdf
        )
    qdf = qdf.withColumn("n2", _int_norm_sq("qv"))
    assigned = assignments.select(F.col(id_col), "cluster_id")
    side = qdf.join(assigned, id_col)

    t_sq_104 = int(threshold * threshold * 10_000)  # ⌊10⁴·t²⌋

    def _near_pairs(sides: DataFrame, join_keys: list[str]) -> DataFrame:
        a = sides.select(
            F.col(id_col).alias("id_a"),
            F.col("qv").alias("qa"),
            F.col("n2").alias("na"),
            *join_keys,
        )
        b = sides.select(
            F.col(id_col).alias("id_b"),
            F.col("qv").alias("qb"),
            F.col("n2").alias("nb"),
            *join_keys,
        )
        # candidate pairs from the JVM equi-join; the per-pair dot/threshold
        # moves to ONE Arrow pass (_pair_scores_arrow — the interpreted
        # zip_with fold was the pair stage's cost, guide §4.2). The select
        # projects exactly the scoring inputs before the opaque op
        # (guide §2.3: project before the Python boundary).
        cand = (
            a.join(b, join_keys)
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "cluster_id", "qa", "qb", "na", "nb")
        )
        return _pair_scores_arrow(cand, ["id_a", "id_b", "cluster_id"], t_sq_104)

    if max_cluster_size is None:
        return _near_pairs(side, ["cluster_id"])

    # 1. collapse quantization-identical groups to star pairs (linear).
    content = F.concat_ws(",", F.transform(F.col("qv"), lambda v: v.cast("string")))
    side = side.withColumn("__content", content)
    reps = side.groupBy("cluster_id", "__content").agg(
        F.min(id_col).alias("__rep")
    )
    with_rep = side.join(reps, ["cluster_id", "__content"])
    star = with_rep.filter(F.col(id_col) != F.col("__rep")).select(
        F.col("__rep").alias("id_a"),
        F.col(id_col).alias("id_b"),
        "cluster_id",
        F.lit(1_000_000).cast("long").alias("cos_micro"),
    )

    # 2. near tier over distinct representatives only, blocked by content
    # hash; block count from an aggregate + join (a window count would
    # funnel the giant cluster through one buffering task — the hotspot
    # this cap exists to relieve).
    rep_side = with_rep.filter(F.col(id_col) == F.col("__rep"))
    sizes = reps.groupBy("cluster_id").agg(
        F.ceil(F.count("*") / F.lit(int(max_cluster_size)))
        .cast("long")
        .alias("__nsub")
    )
    sig = F.conv(F.substring(F.md5(F.col("__content")), 1, 8), 16, 10).cast(
        "long"
    )
    blocked = (
        rep_side.join(sizes, "cluster_id")
        .withColumn("__sub", F.pmod(sig, F.greatest(F.col("__nsub"), F.lit(1))))
        .drop("__nsub", "__content", "__rep")
    )
    return star.unionByName(_near_pairs(blocked, ["cluster_id", "__sub"]))


def _unit_micro_col(vec_col: str):
    """Each vector L2-normalized then quantized to integer micro-units —
    m_i = ⌊(v_i / max(‖v‖, 1e-30))·10⁶ + 0.5⌋ — as a bare expression, so
    the fused codebook pass derives it in the same projection as qv. Every
    step is a single exactly-rounded IEEE op over an ORDERED fold (the norm
    is a left fold over the array, mirrored by DuckDB's ``list_reduce``),
    so the integers are bit-identical on any engine — which is what lets
    the codebook built from their sums be oracle-hashed. One SQL-parser
    call (see _int_norm_sq); double literals explicit so no DECIMAL sneaks
    into the engine-exact IEEE chain."""
    c = f"`{vec_col}`"
    return F.expr(
        f"transform({c}, v -> CAST(floor(CAST(v AS DOUBLE) / "
        f"greatest(sqrt(aggregate({c}, 0.0D, "
        f"(a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 1E-30) "
        f"* 1.0E6 + 0.5D) AS BIGINT))"
    )


def train_ivf_codebook(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    n_centroids: int = 16,
    n_iter: int = 3,
) -> DataFrame:
    """Trained IVF codebook: cluster the corpus with :func:`kmeans_int8`,
    then emit each cluster's elementwise floor-MEAN of the L2-NORMALIZED,
    micro-unit-quantized vectors as (centroid_id, cv array<long>) — the
    codebook :func:`ivf_topk_trained` serves. Two deliberate choices:

    - Normalize BEFORE averaging: int8 quantization is per-vector
      scale-invariant, so the clustering is direction-only (spherical) and
      the matching centroid is the mean DIRECTION — averaging raw vectors
      lets long vectors dominate and drags centroids off the cluster's
      direction (measured recall@10 0.7 vs 0.9+ with the normalized mean
      on the random fixture).
    - INTEGER micro-unit arithmetic end to end: per-component unit values
      are floored to micro-units (:func:`_unit_micro_col`, engine-exact),
      summed per cluster as exact int64s (map-side combinable), and divided
      by the member count with ONE floor at the end — so the codebook is
      bit-identical on any engine and the trained path can be DuckDB
      oracle-hashed, not just recall-floored. (An ``F.avg`` over doubles
      has engine-defined summation order — unhashable.) Components stay
      ≤ 10⁶ in magnitude, so downstream integer cosine norms fit int64 at
      any cluster size.

    Build shape (round 12, guide §2.3/§4.2/§7.3): the old form joined the
    final assignment frame back onto a separate unit-vector scan and paid
    a 64-column ``sum(m[i])`` aggregate over every row — 65 aggregate
    buffers exceed ``spark.sql.codegen.maxFields`` (100), so that whole
    stage ran INTERPRETED (the same fallback measured at 0.66 s vs 0.15 s
    per Lloyd iteration before round 12's ``_train_partials`` fix). The
    fused form derives qv and m in ONE projection (no join), assigns and
    partial-sums per task inside the same Arrow pass Lloyd training uses
    (``_train_partials(sum_col="m")``), then folds the ≤ (#tasks)·k
    collected partials DRIVER-side — the same bounded-collect class as
    the Lloyd loop's own per-iteration state, and cheaper than a JVM
    groupBy whose 64 aggregate Columns cost ~0.3 s of py4j construction
    per build. Bit-identical output: the assignment math is unchanged,
    the m sums are exact ints (associative — task boundaries can't change
    totals), and ⌊Σm/c⌋ divides the same two exactly-double-representable
    integers through the same single correctly-rounded IEEE division
    (|Σm| ≤ 10⁶·c ≪ 2⁵³) whether Python or the JVM performs it.

    Cosine is scale-invariant so the floor-mean's 1e-6 granularity is
    noise."""
    import math

    first = df.select(vec_col).first()  # fail empty input before training
    if first is None:
        raise ValueError("cannot train a codebook on an empty corpus")
    st: list = []
    # the returned assignment frame is lazy and unused — only the Lloyd
    # training (driver-side, at build) and its final state are needed here;
    # the fused pass below re-derives qv in its own projection.
    kmeans_int8(
        df, vec_col, id_col, k=n_centroids, n_iter=n_iter, state_out=st
    )
    fused = df.select(
        quantize_int8(vec_col).alias("qv"),
        _unit_micro_col(vec_col).alias("m"),
    )
    agg: dict[int, tuple[list[int], int]] = {}
    for r in _collect_partials(
        _train_partials(fused, id_col, st, sum_col="m"),
        n_tasks=fused.rdd.getNumPartitions(),
        k=len(st),
        dim=len(st[0][1]),
    ):
        cid, c, s = int(r[0]), int(r[1]), r[2]
        prev = agg.get(cid)
        if prev is None:
            agg[cid] = ([int(v) for v in s], c)
        else:
            ps, pc = prev
            agg[cid] = ([a + int(b) for a, b in zip(ps, s)], pc + c)
    spark = df.sparkSession
    return spark.createDataFrame(
        [
            (cid, [int(math.floor(sv / c)) for sv in s])
            for cid, (s, c) in sorted(agg.items())
        ],
        "centroid_id long, cv array<long>",
    )


def _ivf_assign_arrow(
    qdf: DataFrame, id_col: str, cb_rows: list[tuple[int, list[int], int]]
) -> DataFrame:
    """Serve-time IVF coarse assignment, vectorized: one mapInArrow pass
    emitting (id, qv, nx, centroid_id) where centroid_id maximizes the
    exact integer cosine against the k collected codebook rows
    (centroid_id, cv, nc), cid-ascending.

    Replaces the crossJoin(broadcast codebook) → interpreted
    ``_int_cosine_score`` fold → groupBy(id) argmax chain (round 12, guide
    §2.4/§4.2): the N×k score matrix becomes one int64 matmul per batch and
    the argmax stays inside the task, so the N·k-row shuffle into the
    argmax aggregate disappears — at 10⁹ vectors that exchange alone is
    k× the corpus in rows. BIT-IDENTICAL to the JVM chain:

    - the dot is exact int64 (associative; |dot| ≤ dim·127·10⁶ < 2⁵³, so
      the int64→double conversion is exact);
    - score = dot / (√nx · √nc) is the same three correctly-rounded IEEE
      ops (two sqrts of exact integers, one multiply, one divide) the JVM
      expression performs;
    - ``max(struct(score, -cid))`` picks the highest score, ties to the
      smallest cid — np.argmax returns the FIRST maximum and the rows are
      cid-ascending, the same rule. The one divergence is the degenerate
      zero-norm row (0/0): the old JVM chain RAISED under ANSI mode, while
      this path scores it NaN everywhere and assigns the smallest cid —
      strictly more defined, and unreachable from the registry (no input
      quantizes to the zero vector; the oracle hash would convict drift).
    """
    import numpy as np

    cids = np.array([c for c, _, _ in cb_rows], dtype=np.int64)
    CV = np.array([v for _, v, _ in cb_rows], dtype=np.int64)
    sq_nc = np.sqrt(np.array([n for _, _, n in cb_rows], dtype=np.int64).astype(np.float64))
    dim = CV.shape[1]

    def fn(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            X = np.asarray(rb.column(1).flatten()).reshape(n, dim)
            nx = np.asarray(rb.column(2))
            dots = (X @ CV.T).astype(np.float64)
            denom = np.sqrt(nx.astype(np.float64))[:, None] * sq_nc[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                score = dots / denom
            j = np.argmax(score, axis=1)
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), rb.column(1), rb.column(2), pa.array(cids[j])],
                names=[id_col, "qv", "nx", "centroid_id"],
            )

    schema = f"{id_col} long, qv array<long>, nx long, centroid_id long"
    return qdf.select(id_col, "qv", "nx").mapInArrow(fn, schema=schema)


def _int_cosine_score(qa: str, qb: str, na: str, nb: str):
    """Engine-exact cosine of two INTEGER vectors: exact int64 dot over a
    zip_with fold, divided by the product of two correctly-rounded sqrts of
    exact integer norms — every step identically rounded on every engine.
    Built by ONE SQL-parser call (the HOF builders cost dozens of py4j
    round trips per construction — guide §7.3, measured ~3× round 13);
    the parsed tree is the same fold."""
    return F.expr(
        f"aggregate(zip_with(`{qa}`, `{qb}`, (x, y) -> x * y), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v) "
        f"/ (sqrt(CAST(`{na}` AS DOUBLE)) * sqrt(CAST(`{nb}` AS DOUBLE)))"
    )


def ivf_topk_trained(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_id: int,
    *,
    k: int = 10,
    n_probe: int = 4,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN top-k over a TRAINED codebook, all-integer and oracle-exact:

    1. train the codebook (:func:`train_ivf_codebook` — integer k-means,
       micro-unit centroids, at its default size), or SERVE a stored one:
       pass ``codebook`` (the (centroid_id, cv) table train_ivf_codebook
       emits, e.g. read back from parquet) and no training runs at all —
       the production shape, where a codebook is trained once, persisted,
       and every query after that is pure scan + broadcast joins;
    2. assign every int8-quantized vector to its nearest centroid by exact
       integer cosine (one vectorized Arrow pass over the collected
       k-row codebook — :func:`_ivf_assign_arrow`, bit-identical to the
       broadcast-join + max-struct argmax it replaced but with ZERO
       exchanges: the old groupBy(id) argmax shuffled N·k score rows);
    3. probe the ``n_probe`` centroids nearest the query (the ``query_id``
       row, int8-quantized from the same scan);
    4. exact-score only vectors assigned to probed centroids; report
       ``cos_micro`` = ⌊cosine·10⁶ + 0.5⌋ (exact integer across engines).

    Returns (id, centroid_id, cos_micro) ordered by (cos_micro desc, id),
    limit k. At scale step 2's output is the inverted file (write
    partitioned by centroid_id), and step 4's broadcast probe join on that
    column dynamic-partition-prunes it."""
    qdf = quantized_vectors(df, vec_col, id_col).withColumn(
        "nx", _int_norm_sq("qv")
    )
    if codebook is None:
        codebook = train_ivf_codebook(df, vec_col, id_col)
    codebook = codebook.withColumn("nc", _int_norm_sq("cv"))
    # bounded k-row collect — the codebook-LOAD class of driver traffic
    # (same as kmeans' seed collect); the assignment then runs as one
    # vectorized Arrow pass with no exchange instead of a broadcast
    # crossJoin + N·k-row argmax shuffle (guide §2.4).
    cb_rows = sorted(
        (int(r["centroid_id"]), [int(v) for v in r["cv"]], int(r["nc"]))
        for r in codebook.select("centroid_id", "cv", "nc").collect()
    )
    assigned = _ivf_assign_arrow(qdf, id_col, cb_rows)
    qrow = qdf.filter(F.col(id_col) == query_id).select(
        F.col("qv").alias("qq"), F.col("nx").alias("nq")
    )
    probe = (
        codebook.crossJoin(F.broadcast(qrow))
        .select(
            "centroid_id",
            _int_cosine_score("qq", "cv", "nq", "nc").alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("centroid_id"))
        .limit(n_probe)
        .select("centroid_id")
    )
    return (
        assigned.join(F.broadcast(probe), "centroid_id")
        .crossJoin(F.broadcast(qrow))
        .select(
            F.col(id_col),
            F.col("centroid_id").cast("long").alias("centroid_id"),
            F.floor(
                _int_cosine_score("qv", "qq", "nx", "nq") * F.lit(1e6)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("cos_micro"),
        )
        .orderBy(F.desc("cos_micro"), F.asc(id_col))
        .limit(k)
    )


def assign_with_state(
    df: DataFrame | None,
    vec_col: str,
    id_col: str,
    state: list,
    *,
    qdf: DataFrame | None = None,
) -> DataFrame:
    """Assign vectors to a FROZEN centroid state — the admission step of
    the stored-codebook lifecycle: a batch is quantized and assigned in
    one Arrow pass (no re-clustering), and the resulting
    (id, qv, cluster_id) rows are what a pipeline APPENDS to its stored
    inverted file (see :func:`semantic_state_table`). Returns
    (id, qv, cluster_id, dist)."""
    if qdf is None:
        if df is None:
            raise ValueError("df may be None only when qdf is supplied")
        qdf = quantized_vectors(df, vec_col, id_col)
    return _assign_to_centroids(qdf, id_col, state)


def semantic_state_table(spark, state: list) -> DataFrame:
    """The frozen k-means centroid state as a k-row DataFrame
    (cid, s array<long>, c) — the codebook ARTIFACT an incremental
    pipeline PERSISTS (one parquet write per corpus release) and later
    reloads via :func:`semantic_state_from_table`. Stores the exact Lloyd
    sums-and-counts, not derived means, so a store/serve round trip is
    bit-lossless: assignments from the reloaded state are identical to
    assignments from the in-memory state."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("cid", T.LongType()),
            T.StructField("s", T.ArrayType(T.LongType())),
            T.StructField("c", T.LongType()),
        ]
    )
    return spark.createDataFrame(
        [(int(cid), [int(v) for v in s], int(c)) for cid, s, c in state],
        schema,
    )


def semantic_state_from_table(df: DataFrame) -> list:
    """Reload a stored :func:`semantic_state_table` artifact into the
    sorted (cid, s, c) list :func:`_assign_to_centroids` consumes — a
    bounded k-row collect (codebook-class driver traffic, same cost class
    as k-means' own seed collect)."""
    return sorted(
        (int(r["cid"]), [int(v) for v in r["s"]], int(r["c"]))
        for r in df.select("cid", "s", "c").collect()
    )


def incremental_semantic_verdicts(
    corpus: DataFrame | None,
    incoming: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    k: int = 8,
    n_iter: int = 3,
    threshold: float = 0.95,
    corpus_qdf: DataFrame | None = None,
    incoming_qdf: DataFrame | None = None,
    state: list | None = None,
    corpus_assigned: DataFrame | None = None,
    n_probe: int = 1,
) -> DataFrame:
    """Incremental SemDeDup — the crawl-shaped variant: cluster the CORPUS
    once, FREEZE the centroid state, then classify an incoming batch by

    1. assigning each incoming vector to the frozen codebook (the same
       narrow integer-distance pass as training — no re-clustering, the
       corpus is never re-paired with itself);
    2. comparing incoming vectors ONLY against corpus members of their
       assigned (touched) clusters — an equi-join on cluster_id whose pair
       space is |batch|·E[cluster], never corpus²;
    3. the same exact-integer cosine-≥-threshold test as
       :func:`semantic_dedup_pairs`.

    Returns one row per incoming id: (id, cluster_id, verdict,
    n_corpus_matches, max_cos_micro) with verdict ∈ ('semantic_dup', 'new')
    — zero/NULL stats on the 'new' rows, so that path is verified too.

    Scale shape: the batch side is small (a crawl increment), so its
    assignment is one Arrow-batched map over the batch and the pair join
    broadcasts the batch side; the corpus side is touched only through a
    cluster_id semi-join — with the corpus assignment stored partitioned by
    cluster_id (the inverted file), untouched clusters are never read.
    Mirrors operators/dedup.incremental_dedup_verdicts (the text-shingle
    sibling); engine-original, no reference counterpart (SURVEY.md §2.12).

    STORE-SERVED path: pass ``state`` (the reloaded
    :func:`semantic_state_from_table` codebook) to skip training entirely,
    and ``corpus_assigned`` — the stored inverted file, (id_col, qv,
    cluster_id) rows appended per admitted batch — to skip the corpus
    scan/assignment too (``corpus``/``corpus_qdf`` may then be None).
    This is the per-batch production shape: one stored-table read + one
    Arrow assignment pass over the batch; ``k``/``n_iter`` are ignored
    (they were fixed when the stored codebook was trained).

    ``n_probe > 1`` compares each incoming vector against its top-p
    NEAREST clusters instead of only the argmin (IVF multi-probe, the
    same knob as similarity.ivf_cosine_topk): a twin that lands just across a
    Voronoi boundary from its stored source — the dominant recall-loss
    mode under codebook staleness, measured in tools/codebook_drift.py —
    is still compared against it. Pair space grows to
    |batch|·n_probe·E[cluster] (each corpus member belongs to ONE
    cluster, so no pair is counted twice); the reported ``cluster_id``
    stays the primary (rank-0) assignment. Results at n_probe=1 are
    bit-identical to before the knob existed.
    """
    if corpus is None and corpus_qdf is None:
        if state is None:
            raise ValueError(
                "corpus may be None only when a frozen state (plus either "
                "corpus_assigned or corpus_qdf) is supplied — training "
                "needs corpus or corpus_qdf"
            )
        if corpus_assigned is None:
            raise ValueError(
                "state without corpus_assigned requires corpus or "
                "corpus_qdf (the corpus side must come from somewhere)"
            )
    if incoming_qdf is None:
        incoming_qdf = quantized_vectors(incoming, vec_col, id_col)
    if state is None:
        if corpus_qdf is None:
            corpus_qdf = quantized_vectors(corpus, vec_col, id_col)
        state = []
        corpus_assign = kmeans_int8(
            None,
            vec_col,
            id_col,
            k=k,
            n_iter=n_iter,
            qdf=corpus_qdf,
            state_out=state,
        )
    else:
        corpus_assign = None
    inc_probe = _assign_to_centroids(
        incoming_qdf, id_col, state, n_probe=n_probe
    )
    # gate on the EMITTED schema, not the requested n_probe:
    # _assign_to_centroids clamps p = min(n_probe, k) and omits probe_rank
    # when the clamped p == 1 — with a single-centroid state a filter on
    # the missing column would fail the whole plan (AnalysisException).
    inc_assign = (
        inc_probe.filter(F.col("probe_rank") == 0).drop("probe_rank")
        if "probe_rank" in inc_probe.columns
        else inc_probe
    )

    n2 = _int_norm_sq("qv")
    inc_side = (inc_probe if n_probe > 1 else inc_assign).select(
        F.col(id_col).alias("inc_id"),
        F.col("qv").alias("qa"),
        n2.alias("na"),
        "cluster_id",
    )
    if corpus_assigned is not None:
        # the stored inverted file already carries (id, qv, cluster_id)
        corp_base = corpus_assigned
    elif corpus_assign is not None:
        corp_base = corpus_assign.join(corpus_qdf, id_col)
    else:
        # frozen state but no stored assignment: one frozen-state pass
        # over the corpus (still no re-clustering)
        if corpus_qdf is None:
            corpus_qdf = quantized_vectors(corpus, vec_col, id_col)
        corp_base = _assign_to_centroids(corpus_qdf, id_col, state)
    corp_side = corp_base.select(
        F.col(id_col).alias("corp_id"),
        F.col("qv").alias("qb"),
        n2.alias("nb"),
        "cluster_id",
    )
    t_sq_104 = int(threshold * threshold * 10_000)  # ⌊10⁴·t²⌋
    # per-pair scoring in ONE Arrow pass over the join output (same
    # _pair_scores_arrow as the batch pair stage — the interpreted
    # zip_with fold was per candidate pair); the stats agg then runs over
    # surviving pairs' (inc_id, cos_micro) only.
    cand = (
        F.broadcast(inc_side)
        .join(corp_side, "cluster_id")
        .select("inc_id", "qa", "qb", "na", "nb")
    )
    matches = (
        _pair_scores_arrow(cand, ["inc_id"], t_sq_104)
        .groupBy("inc_id")
        .agg(
            F.count("*").cast("long").alias("n_corpus_matches"),
            F.max("cos_micro").alias("max_cos_micro"),
        )
    )
    return (
        inc_assign.select(F.col(id_col).alias("inc_id"), "cluster_id")
        # matches is ≤ one row per incoming id — the same batch-sized
        # class as inc_side above, which the pair join already broadcasts
        # by contract. Without the hint this final left join sort-merges:
        # two Exchanges + two Sorts to attach stats to a batch-sized set.
        .join(F.broadcast(matches), "inc_id", "left")
        .select(
            F.col("inc_id").alias(id_col),
            "cluster_id",
            F.when(F.col("n_corpus_matches") >= 1, F.lit("semantic_dup"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.coalesce(
                F.col("n_corpus_matches"), F.lit(0).cast("long")
            ).alias("n_corpus_matches"),
            "max_cos_micro",
        )
    )
