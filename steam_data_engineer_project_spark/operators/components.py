"""Connected components over near-duplicate pair edges.

The dedup operators (dedup.py, similarity.py) emit candidate PAIRS; a
training-data pipeline must collapse them into CLUSTERS (keep one canonical
document per component, or route whole components to one side of a
train/test split — see operators/sampling.deterministic_split — so
near-duplicates can never straddle the split and leak).

Spark has no built-in CC; this is Pregel-style iterative min-label
propagation expressed in DataFrame ops: every node starts labeled with its
own id, each round adopts the minimum label among itself and its neighbors,
and the loop stops when a round changes nothing. Convergence is
O(component diameter) rounds — near-dup clusters are dense and shallow
(diameter ≤ ~4), so a handful of shuffles on the edge key ends it. Each
round ``localCheckpoint``s its labels: iterative self-referencing plans
grow EXPONENTIALLY in lineage (each round embeds the previous plan twice),
so truncation per round is correctness-of-operation, not a tuning detail —
on a cluster use reliable ``checkpoint()`` to HDFS for fault tolerance.
That checkpoint is the round's ONE job: its convergence flag (like the edge
count that sizes the loop) is a ``monitoring.observed`` metric of it.
For adversarially deep graphs at scale, swap in the alternating-star
"large-star/small-star" contraction (same DataFrame shapes, logarithmic
rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..monitoring import observed

#: round cap of :func:`connected_components_star` (rounds grow with the log
#: of the largest component, so it is never reached in practice)
STAR_MAX_ITER = 50


def _partition_local_contract(e: DataFrame) -> DataFrame:
    """EXACT partition-local pre-contraction: each partition's edge set is
    replaced by the star edges (node → partition-local min root) of its
    union-find forest — one narrow Arrow-batched ``mapInPandas`` pass, NO
    shuffle. The union over partitions of these stars has exactly the same
    connected components as the input (contracting any SUBSET of edges to a
    spanning star preserves connectivity of that subset and adds none), so
    the global rounds start from a graph whose diameter is already collapsed
    to 1 inside every partition and whose edge count is bounded by the
    number of locally-non-root nodes — typically a large reduction for the
    dense pair sets near-dup dedup emits. Memory is O(nodes touched by one
    partition), the same contract as any mapPartitions aggregation.

    Roots are chosen as the local MINIMUM id, so output edges always point
    small←large; the final component labeling is independent of this choice
    (tested against union-find on graphs scattered over many partitions)."""
    schema = e.schema

    def contract(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for x, y in zip(pdf.iloc[:, 0].tolist(), pdf.iloc[:, 1].tolist()):
                if x not in parent:
                    parent[x] = x
                if y not in parent:
                    parent[y] = y
                rx, ry = find(x), find(y)
                if rx != ry:
                    if ry < rx:
                        rx, ry = ry, rx
                    parent[ry] = rx
        rows_a, rows_b = [], []
        for n in parent:
            r = find(n)
            if r != n:
                # Self-rooted nodes need no row: a root always reappears as
                # the `b` endpoint of its members' star edges (every node
                # entered `parent` via an a≠b edge, so every tree has ≥2
                # nodes), and symmetrization downstream restores it to the
                # node set.
                rows_a.append(n)
                rows_b.append(r)
        yield pd.DataFrame({schema[0].name: rows_a, schema[1].name: rows_b})

    return e.mapInPandas(contract, schema)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; the
    component id is the minimum node id in the component. Deterministic,
    partitioning-independent.

    Each PARTITION's subgraph is first collapsed to a depth-1 star forest
    with in-memory union-find (``_partition_local_contract`` — exact,
    shuffle-free), so the global rounds see fewer, flatter edges.

    Min-label propagation converges in O(diameter) rounds — the cheap path
    for the dense, shallow clusters near-dup dedup emits (one shuffle pair
    per round, measured faster than the star contraction there). If the
    graph is DEEPER than ``max_iter`` (long chains), the loop hands its
    partially-contracted label graph — same components, diameter already
    divided — to ``connected_components_star`` to finish in logarithmic
    rounds, so the result is never silently truncated."""
    e0 = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    # Truncate BEFORE symmetrizing: the union's two branches would otherwise
    # each re-execute the whole upstream pair pipeline (the edges are
    # usually an un-materialized dedup plan) — measured as a full second
    # ngram-pair pass in the e2e corpus pipeline.
    e0 = _partition_local_contract(e0).localCheckpoint()
    sym, edge_obs = observed(
        e0.union(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        "cc_sym_edges",
    )
    sym = sym.localCheckpoint()
    # The rounds below are O(diameter) JOBS whose cost on a small graph is
    # pure scheduling (32-partition shuffles over a few hundred edges), so
    # shrink tiny graphs to a handful of partitions (the edge count came
    # with the checkpoint job) and let AQE keep the reduce sides matched.
    # Big graphs keep their parallelism untouched.
    n_edges = edge_obs.get["rows"]
    parts = max(1, min(sym.rdd.getNumPartitions(), n_edges // 50_000 + 1))
    if parts < sym.rdd.getNumPartitions():
        sym = sym.coalesce(parts)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )

    for i in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_min"))
        )
        # The convergence flag rides the round's checkpoint job: a count of
        # the rows whose label drops — no second job, and type-agnostic
        # (works for string node ids, unlike a label-sum).
        joined, probe = observed(
            labels.join(nbr_min, labels.node == nbr_min.a, "left"),
            f"cc_round_{i}",
            {"changed": F.count_if(F.col("nbr_min") < F.col("label"))},
        )
        labels = joined.select(
            "node", F.least("label", "nbr_min").alias("label")  # least skips nulls
        ).localCheckpoint()
        if probe.get["changed"] == 0:
            return labels.select(F.col("node"), F.col("label").alias("component"))
    # Deep graph: hand off to the star algorithm. The node→label forest
    # ALONE is not enough — two label roots of the same component (an
    # interior local-min id splits the component into several trees)
    # would never merge. Contract the ORIGINAL edges through the labels
    # (label(a) — label(b)) and union the node→label edges: every G-edge
    # stays connected through its endpoints' labels, no new connections
    # appear, so this graph has exactly G's components at reduced
    # diameter, and its min-id labeling IS the answer.
    la = labels.select(F.col("node").alias("a"), F.col("label").alias("la"))
    lb = labels.select(F.col("node").alias("b"), F.col("label").alias("lb"))
    mapped = (
        sym.join(la, "a")
        .join(lb, "b")
        .select(F.col("la").alias("node"), F.col("lb").alias("label"))
    )
    star = connected_components_star(
        mapped.union(labels.select("node", "label")), "node", "label"
    )
    return (
        labels.select("node")
        .join(star, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )
    )


def _large_star(sym: DataFrame) -> DataFrame:
    """Large-star contraction (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): every node connects its STRICTLY LARGER
    neighbors to the minimum of its closed neighborhood. ``sym`` must hold
    both directions of each edge; output is a directed (a → smaller b) edge
    set."""
    m = sym.groupBy("a").agg(
        F.least(F.min("b"), F.first("a")).alias("m")
    )
    return (
        sym.join(m, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star contraction: every node connects its smaller-or-equal
    neighbors (and itself) to the minimum among them — keyed on the LARGER
    endpoint so hot minimum-nodes never become reduce keys."""
    d = edges.select(
        F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
    ).filter(F.col("u") != F.col("v")).distinct()
    m = d.groupBy("u").agg(F.min("v").alias("m"))
    return (
        d.join(m, "u")
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .union(m.select(F.col("u").alias("a"), F.col("m").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """(node, component) via alternating large-star/small-star contraction —
    LOGARITHMIC rounds in the largest component size, vs O(diameter) for
    min-label propagation. Same output contract as ``connected_components``
    (component id = minimum node id, deterministic, partitioning-
    independent); the right choice when components can be long chains
    (diameter ≫ rounds you can afford) rather than the dense shallow
    clusters near-dup dedup produces.

    Each round is two self-free shuffle stages (groupBy on each endpoint) +
    an exact convergence probe; lineage is truncated per round
    (localCheckpoint — use reliable checkpoint() on a cluster, where an
    executor loss under dynamic allocation would otherwise fail the job).
    Converged when the small-star edge set reaches its fixed point: every
    surviving edge then points directly at its component's minimum."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    # isolated-by-contraction safety net: remember every input node so the
    # final labeling covers nodes whose edges all contract away (a min node
    # keeps appearing as `b`, so this is belt-and-braces for 2-node comps).
    nodes = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    prev_count = -1
    for i in range(STAR_MAX_ITER):
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        e_new, size = observed(_small_star(_large_star(sym)), f"cc_star_{i}")
        e_new = e_new.localCheckpoint()
        n_new = size.get["rows"]
        # The fixed-point probe stays a job of its own: it compares two edge
        # sets (a join, not a per-row aggregate), once the size stops moving.
        if n_new == prev_count and e_new.exceptAll(e).limit(1).count() == 0:
            e = e_new
            break
        prev_count = n_new
        e = e_new
    labels = e.select(F.col("a").alias("node"), F.col("b").alias("component"))
    return (
        nodes.join(labels, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )
    )

