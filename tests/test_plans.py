"""Automated physical-plan audit over the WHOLE query registry.

SCALE.md's claims (filters pushed to the scan, dims broadcast, no
row-at-a-time Python, no accidental cartesian/nested-loop blowups, top-k
compiling to TakeOrderedAndProject, map-side partial aggregation) were
hand-verified with .explain(); these tests pin them so a future edit that
silently plans a 100 TB anti-pattern fails CI, not the cluster.

The sweep builds every registered query's physical plan at sf0.001 (plan
construction is free; the few side-effecting queries run their tiny
pipelines) and greps the plan tree — the same audit the round judges run.

The cost budget is tests/test_budgets.py: the exact number of Spark
stages one warm invocation runs, build-time jobs included, so it counts
every shuffle this tree shows and those behind an eager checkpoint too.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from steam_data_engineer_project_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"

#: Queries whose plan legitimately contains BroadcastNestedLoopJoin: every
#: one broadcasts a side that is ≤ O(1) rows BY CONSTRUCTION (a single query
#: vector, a scalar threshold row, a tiny centroid codebook) — the join is a
#: constant-size loop per row, not a data×data blowup.
BNLJ_OK = {
    "time_filter_suite",  # scalar watermark row broadcast against events
    "ann_ivf_topk",  # broadcast query against the tiny centroid codebook
    "text_profile_docs",  # bm25 leg: single-row corpus-stats aggregate broadcast back into the scan
}

#: Queries whose served plan may run Python on executors through Arrow
#: batches. Anywhere else, a pandas or Arrow UDF is a hot-path regression:
#: every row would cross into a Python worker and back.
PYTHON_OK = {
    "rest_fetch_appdetails",  # MapInPandas: the REST client fetches per partition
    "sampling_split_suite",  # MapInPandas: the shard export writes from the task
    "mm_pipeline",  # MapInPandas: the binary payload decode
    "dedup_embedding_cosine",  # MapInArrow: the numpy distance pass of the k-means assignment
    "ann_ivf_topk",  # MapInArrow: the serve-time coarse assignment (one node, pinned below)
    "corpus_store_suite",  # MapInArrow: the same pass against the frozen codebook
}

#: Executor-side Python nodes, by their plan names in Spark 3 and 4.
#: BatchEvalPython is left out: it is never allowed (test below).
PYTHON_NODE = re.compile(
    r"\b(?:ArrowEvalPython\w*|MapIn(?:Pandas|Arrow)"
    r"|FlatMap(?:Co)?GroupsIn(?:Pandas|Arrow)\w*"
    r"|(?:Aggregate|Window)InPandas|Arrow(?:Aggregate|Window)Python)\b"
)


def test_no_row_at_a_time_python_udf_anywhere(plans):
    """The hot path stays JVM-side: Arrow-batched MapInPandas is allowed,
    BatchEvalPython (pickled row-at-a-time UDF) never is."""
    offenders = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert not offenders, offenders


def test_arrow_python_only_where_allowed(plans):
    """A pandas or Arrow UDF outside the audited set is a Python round trip
    per batch in a plan that had none."""
    got = {
        n: sorted(set(PYTHON_NODE.findall(p)))
        for n, p in plans.items()
        if n not in PYTHON_OK and PYTHON_NODE.search(p)
    }
    assert not got, f"unexpected Python nodes: {got}"


def test_no_cartesian_product_anywhere(plans):
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not offenders, offenders


def test_nested_loop_joins_only_with_tiny_broadcast_sides(plans):
    """Any NEW BroadcastNestedLoopJoin is a plan regression (an inequality
    join that should have been bucketized, a missed equi-key) unless its
    broadcast side is constant-size — the audited whitelist."""
    got = {n for n, p in plans.items() if "BroadcastNestedLoopJoin" in p}
    assert got <= BNLJ_OK, f"unexpected nested-loop joins in: {got - BNLJ_OK}"


def test_projection_filter_pushed_into_parquet_scan(spark):
    """P1: the staging filter must reach the scan (PushedFilters) and the
    scan must read only the projected columns (pruned ReadSchema). Built on
    the standalone member (not the filter_suite union) so the plan has
    exactly one scan to assert against."""
    from steam_data_engineer_project_spark.queries import stg_projection_filter

    plan = (
        stg_projection_filter(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), "no filters pushed to the parquet scan"
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, "no ReadSchema on the scan"
    read_cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    # stg_games projects a handful of columns from the 9-column part table;
    # reading them all would mean pruning is broken.
    assert len(read_cols) <= 6, f"scan reads too many columns: {read_cols}"


def test_topk_compiles_to_take_ordered(plans):
    """T1: global top-K must be the per-partition-heap operator, never a
    global sort."""
    assert "TakeOrderedAndProject" in plans["rank_suite"]


def test_flagship_agg_has_mapside_partial(plans):
    """A2: the scan→filter→agg flagship must partial-aggregate before its
    exchange (map-side combine) — the difference between shuffling 6 rows
    per partition and shuffling the filtered fact table."""
    plan = plans["q1_pricing_summary"]
    assert re.search(r"partial_(sum|count|avg|min|max)", plan), plan


def test_ann_ivf_served_plan_has_no_training(plans):
    """The trained-IVF leg serves a STORED parquet codebook: the returned
    plan must contain zero kmeans machinery — no Lloyd pass and no
    scan-time codebook aggregation — only the embeddings scan, the ONE
    vectorized serve-time coarse assignment (round 12's _ivf_assign_arrow
    MapInArrow), the broadcast probe join, and the exact-score top-k.
    Training runs once at the codebook WRITE action, never per driver
    action; a regression that drags the train back into the served plan
    re-runs Lloyd on every downstream consumer at 100 TB."""
    plan = plans["ann_ivf_topk"]
    # Round 7 pinned "no MapInPandas" when kmeans' assignment pass was the
    # only possible Python node. Round 12 moved both the training passes
    # AND the serve-time coarse assignment to MapInArrow
    # (_ivf_assign_arrow), so the pin is now a count: exactly ONE Arrow
    # node — a leaked training pass would make it ≥ 2 (_train_partials
    # plus the final _assign_to_centroids), and zero would mean the serve
    # assignment regressed to the N·k-row argmax shuffle. (The codebook
    # parquet scan itself sits below the tree-string truncation point, so
    # its presence is pinned by the oracle's codebook leg instead —
    # serving a wrong/missing store hash-fails.)
    assert "MapInPandas" not in plan, plan
    assert plan.count("MapInArrow") == 1, plan


def test_star_denorm_broadcasts_dimensions(spark):
    """J1: after AQE finishes, every dim side of the 8-way star denorm is a
    BroadcastHashJoin; the one shuffled join is orders⋈lineitem — the
    genuine large-large join, which SHOULD shuffle (sort-merge by
    default; shuffled-hash under the round-12 session preference — if it
    plans as SMJ, the key must be o_orderkey). (Final adaptive plan
    requires executing the query; sf0.001 keeps that cheap.)"""
    df = QUERIES["dim_star_denorm"].spark(spark, SF_DIR)
    df.collect()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    assert "isFinalPlan=true" in plan
    assert plan.count("BroadcastHashJoin") >= 4, plan
    smj = re.findall(r"SortMergeJoin \[([a-z_]+)", plan)
    assert all(k.startswith("o_orderkey") for k in smj), smj


def test_session_pins_join_preference_and_dataframe_debugging(spark):
    """get_spark() fixes both settings as constants: the planner may pick
    shuffled-hash joins, and PySpark's per-call DataFrame debugging is
    off."""
    assert spark.conf.get("spark.sql.join.preferSortMergeJoin") == "false"
    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    )


def test_every_persist_is_released_by_the_function_that_makes_it():
    """Caches must not outlive the data they describe: every ``.persist(``
    in the package sits in a function whose ``finally`` block calls
    ``.unpersist(`` on the same frame, so no exit path (return or raise)
    leaves a CacheManager entry behind. A frame that a RETURNED lazy plan
    reads more than once is shared with ``localCheckpoint()`` instead,
    whose blocks go with the plan."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "steam_data_engineer_project_spark"
    )

    def is_call(node, attr):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == attr
        )

    persists, offenders = 0, []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}

        def owner(node):
            while node in parent:
                node = parent[node]
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    return node
            return None

        released: dict = {}  # function -> frames its finally blocks unpersist
        for t in ast.walk(tree):
            if isinstance(t, ast.Try):
                released.setdefault(owner(t), set()).update(
                    ast.unparse(c.func.value)
                    for stmt in t.finalbody
                    for c in ast.walk(stmt)
                    if is_call(c, "unpersist")
                )
        for call in ast.walk(tree):
            if not is_call(call, "persist"):
                continue
            persists += 1
            up = parent[call]
            if isinstance(up, ast.Expr):  # frame.persist()
                frame = ast.unparse(call.func.value)
            elif isinstance(up, ast.Assign) and isinstance(up.targets[0], ast.Name):
                frame = up.targets[0].id  # frame = <plan>.persist()
            else:
                frame = None  # an unnamed persist cannot be released
            if frame is None or frame not in released.get(owner(call), set()):
                rel = path.relative_to(pkg.parent)
                offenders.append(f"{rel}:{call.lineno} {ast.unparse(call)[:60]}")
    assert persists, "the scan found no persist at all: is the package path right?"
    assert not offenders, offenders


#: Public operator and function-library names with no caller in the code
#: that serves results, each kept for the reason given. Any other public
#: ``def`` under operators/ or functions/ must be reachable from that code.
UNSERVED_OK = {
    "write_shards": "the committer-delegated writer for rename-less stores, measured by EXPORT_sf1.json (tools/export_bench.py)",
    "salted_join": "the hot-key join measured by SKEW_sf1.json (tools/skew_stress.py)",
}

#: Package modules and directories whose code serves registry results, the
#: corpus store, the plans and the pipelines.
SERVING = ("queries.py", "corpus_store.py", "plans", "streaming", "sources", "quality", "multimodal")


def test_every_public_operator_has_a_serving_caller():
    """One implementation per operator: a public ``def`` in operators/ or
    functions/ that nothing serving calls is a twin only its tests select,
    and the oracle never judges it. Reachability is by name: the roots are
    the names the serving modules use, and a library def is live when a
    root or a live def uses its name."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "steam_data_engineer_project_spark"
    )

    def names(node):
        return {
            n.id if isinstance(n, ast.Name) else n.attr
            for n in ast.walk(node)
            if isinstance(n, (ast.Name, ast.Attribute))
        }

    used = set()
    for entry in SERVING:
        root = pkg / entry
        for path in [root] if root.is_file() else sorted(root.rglob("*.py")):
            used |= names(ast.parse(path.read_text(), str(path)))
    defs = {}  # library def name -> (where, names its body uses)
    for lib in ("operators", "functions"):
        for path in sorted((pkg / lib).glob("*.py")):
            for stmt in ast.parse(path.read_text(), str(path)).body:
                if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
                    defs[stmt.name] = (f"{lib}/{path.name}:{stmt.lineno}", names(stmt))
                elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                    used |= names(stmt)  # module-level code runs on import
    assert len(defs) > 50, "the scan found too few defs: is the package path right?"
    live, todo = set(), [n for n in defs if n in used]
    while todo:
        n = todo.pop()
        if n not in live:
            live.add(n)
            todo += [m for m in defs[n][1] if m in defs]
    unserved = {n for n in defs if not n.startswith("_") and n not in live}
    offenders = sorted(f"{defs[n][0]} {n}" for n in unserved - set(UNSERVED_OK))
    assert not offenders, f"public defs no serving code calls: {offenders}"
    stale = sorted(set(UNSERVED_OK) - unserved)
    assert not stale, f"UNSERVED_OK entries that are served or gone: {stale}"


def test_bucketed_tables_join_without_exchange(spark):
    """SCALE.md's co-located join story, demonstrated: two tables written
    bucketed+sorted on the join key sort-merge-join with ZERO Exchange in
    the plan — the shuffle happened once at write time, which is the whole
    point of bucketing a 100 TB fact table that joins on the same key every
    day."""
    import uuid

    suffix = uuid.uuid4().hex[:8]
    ta, tb = f"bj_orders_{suffix}", f"bj_lineitem_{suffix}"
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    # sf0.001 tables are broadcast-sized, which would sidestep the bucketed
    # path entirely — turn auto-broadcast off so the plan is the one a
    # 100 TB fact⋈fact join would get.
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.join.preferSortMergeJoin",
        )
    }
    for k in saved:
        spark.conf.set(k, "-1" if "Broadcast" in k else "true")
    # preferSortMergeJoin pinned true for this test only: the session
    # default is false (round 12 — shuffled-hash wins on the registry's
    # moderate-sized joins), but THIS test demonstrates the bucketed
    # co-located SMJ story, where the sortBy metadata feeds the merge
    # join with zero exchanges AND zero sorts.
    try:
        (
            orders.write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .mode("overwrite")
            .saveAsTable(ta)
        )
        (
            lineitem.write.bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .mode("overwrite")
            .saveAsTable(tb)
        )
        joined = spark.table(ta).join(
            spark.table(tb),
            spark.table(ta).o_orderkey == spark.table(tb).l_orderkey,
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # co-located: no shuffle at all
        # and it actually runs: every lineitem row finds its order
        assert joined.count() == lineitem.count()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_pruned_ann_registry_query_prunes_partitions(spark):
    """ann_lsh_suite's pruned leg must scan with the Hamming-2 probe set as
    PartitionFilters (bucket IN (...)) — the registry row proves the ANSWER
    matches the oracle; this pins that the answer came from a PRUNED scan,
    not a full one."""
    from steam_data_engineer_project_spark.queries import ann_lsh_suite

    plan = ann_lsh_suite(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    # the in_plan leg's scan has an empty PartitionFilters list; exactly one
    # scan (the pruned leg's) filters on the bucket partition column
    pf = [
        f
        for f in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        if "bucket" in f
    ]
    assert len(pf) == 1, plan
    # the probe list is a strict subset of the 256 buckets (Hamming-2 = 37)
    assert pf[0].count(",") < 255, pf[0]


def test_corpus_store_suite_prunes_store_reads_by_batch(spark):
    """The suite's doc_b1 leg serves from batch 0 ONLY; with the store
    laid out as batch_id=<N> partition directories (round 8), that
    filter must reach the scan as a PartitionFilter — at 100 TB this is
    the difference between reading one batch slice and re-listing every
    admitted batch's files."""
    from steam_data_engineer_project_spark.queries import corpus_store_suite

    df = corpus_store_suite(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("batch_id" in f for f in pf), plan[:3000]


def test_incremental_refresh_equals_full_rebuild(spark):
    """plans/incremental.py: three incremental refreshes over a time-split
    source == one full rebuild (the dbt materialized='incremental'
    contract), the watermark makes an empty refresh a no-op, and refresh
    cost follows the delta."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from steam_data_engineer_project_spark.plans.incremental import (
        incremental_refresh,
    )
    from steam_data_engineer_project_spark.queries import _t

    def transform(df):
        return df.filter(F.col("event_type") == "view").select(
            F.col("event_id").alias("review_id"),
            F.col("user_id").alias("appid"),
            F.col("value").alias("score"),
            F.unix_micros("ts").alias("ts_us"),
        )

    ev = _t(spark, "/root/testdata/sf0.001", "events").withColumn(
        "ts_us_src", F.unix_micros("ts")
    )
    cuts = ev.approxQuantile("ts_us_src", [0.33, 0.66], 0.01)
    base = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".scratch")
    os.makedirs(base, exist_ok=True)
    mart = tempfile.mkdtemp(prefix="test_incr_", dir=base)
    try:
        slices = [
            ev.filter(F.col("ts_us_src") <= cuts[0]),
            ev.filter(F.col("ts_us_src") <= cuts[1]),  # overlaps slice 1
            ev,  # overlaps everything: watermark must dedupe the work
        ]
        for s in slices:
            out = incremental_refresh(
                spark, mart, s, transform, "ts_us_src", ["review_id"], "ts_us"
            )
        got = sorted((r.review_id, r.appid, r.score, r.ts_us) for r in out.collect())
        want = sorted(
            (r.review_id, r.appid, r.score, r.ts_us)
            for r in transform(ev).collect()
        )
        assert got == want

        # nothing new → no rewrite (idempotent no-op: same mtime)
        data = os.path.join(mart, "data")
        before = os.path.getmtime(data)
        again = incremental_refresh(
            spark, mart, ev, transform, "ts_us_src", ["review_id"], "ts_us"
        )
        assert os.path.getmtime(data) == before
        assert again.count() == len(want)
    finally:
        shutil.rmtree(mart, ignore_errors=True)


def test_incremental_refresh_swap_crash_never_loses_mart(spark):
    """The refresh's data swap is displace-install-delete: a crash between
    the two renames (``data`` gone, old mart in ``data.old``) must restore
    the old mart on the next refresh — before this repair, the next run
    read an EMPTY existing mart and silently dropped every row at or below
    the stored watermark. The both-present torn state (crash before trash
    removal) must resolve to the installed data."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from steam_data_engineer_project_spark.plans.incremental import (
        incremental_refresh,
    )

    def transform(df):
        return df.select("k", "v", "ts")

    def src(rows):
        return spark.createDataFrame(rows, "k long, v string, ts long")

    base = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".scratch")
    os.makedirs(base, exist_ok=True)
    mart = tempfile.mkdtemp(prefix="test_incr_crash_", dir=base)
    data = os.path.join(mart, "data")
    try:
        incremental_refresh(
            spark, mart, src([(1, "a", 10), (2, "b", 20)]), transform,
            "ts", ["k"], "ts",
        )
        # torn state A: crash between displace and install — data gone,
        # data.old holds the only copy of the mart
        os.rename(data, f"{data}.old")
        out = incremental_refresh(
            spark, mart, src([(3, "c", 30)]), transform, "ts", ["k"], "ts"
        )
        got = sorted((r.k, r.v) for r in out.collect())
        assert got == [(1, "a"), (2, "b"), (3, "c")], got  # nothing lost

        # torn state B: crash after install, before trash removal — the
        # stale displaced copy must be dropped, not resurrected
        shutil.copytree(data, f"{data}.old")
        out = incremental_refresh(
            spark, mart, src([(4, "d", 40)]), transform, "ts", ["k"], "ts"
        )
        got = sorted((r.k, r.v) for r in out.collect())
        assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d")], got
        assert not os.path.isdir(f"{data}.old")
    finally:
        shutil.rmtree(mart, ignore_errors=True)


def test_skew_artifact_pins_bounded_task_balance():
    """SKEW_sf1.json (tools/skew_stress.py, committed) is the measured
    skew story: on a pathological sf1 fixture (one shingle in 30% of
    docs, a 1,000-doc hot LSH bucket, 5-value hot agg keys) every
    mitigated query's worst stage keeps max-task/median-task bounded,
    and the unmitigated counterfactuals on the SAME fixture measure
    WORSE balance — the cap/salting flattening is empirical, not prose.
    Regenerate the artifact after touching the dedup/salting plans."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), "SKEW_sf1.json"
    )
    with open(path) as f:
        art = json.load(f)
    q = art["queries"]

    mitigated = (
        "dedup_ngram_jaccard_docs",
        "dedup_minhash_lsh_docs",
        "skew_salted_agg",
        "salted_join_hot_fk",
    )
    for name in mitigated:
        ratio = q[name]["worst_ratio"]
        assert ratio is not None and ratio <= 8.0, (
            f"{name}: worst max/median task ratio {ratio} breaches the "
            "bound — a skew mitigation regressed (or rerun "
            "tools/skew_stress.py on a quiet host)"
        )
    # the counterfactuals must measure MATERIALLY worse than their
    # mitigated runs — otherwise the bound above is vacuously green.
    # (unsalted_agg_counterfactual is recorded but exempt: map-side
    # partial aggregation already flattens decomposable aggs — see the
    # tool's docstring for why the salted plan still matters at 100 TB.)
    assert (
        q["ngram_uncapped_counterfactual"]["worst_ratio"]
        >= 2 * q["dedup_ngram_jaccard_docs"]["worst_ratio"]
    )
    assert (
        q["unsalted_join_counterfactual"]["worst_ratio"]
        >= 2 * q["salted_join_hot_fk"]["worst_ratio"]
    )
    # and the fixture must actually be the pathological one
    assert art["fixture"]["hot_shingle_frac_pct"] >= 30
    assert art["fixture"]["hot_lsh_docs"] >= 1000
    assert art["fixture"]["hot_fk_frac_pct"] >= 30


def test_incremental_refresh_writers_serialize(spark):
    """Concurrent mart refreshes hold an exclusive flock on
    ``<mart>/_lock`` for the whole refresh (watermark read-modify-write
    plus the data swap's rename sequence): a second writer blocks until
    the first releases, so interleaved renames / lost watermark advances
    cannot occur — the same serialization contract the corpus store's
    manifest mutators carry."""
    import fcntl
    import os
    import shutil
    import tempfile
    import threading

    from steam_data_engineer_project_spark.plans.incremental import (
        incremental_refresh,
    )

    def transform(df):
        return df.select("k", "v", "ts")

    def src(rows):
        return spark.createDataFrame(rows, "k long, v string, ts long")

    base = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".scratch")
    os.makedirs(base, exist_ok=True)
    mart = tempfile.mkdtemp(prefix="test_incr_lock_", dir=base)
    try:
        incremental_refresh(
            spark, mart, src([(1, "a", 10)]), transform, "ts", ["k"], "ts"
        )
        lk = os.open(os.path.join(mart, "_lock"), os.O_RDWR)
        fcntl.flock(lk, fcntl.LOCK_EX)
        attempting = threading.Event()
        done = threading.Event()
        batch2 = src([(2, "b", 20)])  # built BEFORE the thread starts, so
        # the window between `attempting` and the flock call is just the
        # function-entry prologue — not a DataFrame build a loaded host
        # could stall past the not-done assertion below.

        def refresh():
            attempting.set()
            incremental_refresh(
                spark, mart, batch2, transform, "ts", ["k"], "ts"
            )
            done.set()

        t = threading.Thread(target=refresh, daemon=True)
        t.start()
        # prove the contender actually reached the lock attempt before
        # asserting it is blocked — otherwise a slow host could pass this
        # vacuously with the thread never contending (round-10 ADVICE).
        assert attempting.wait(30.0)
        assert not done.wait(1.5), "refresh ran while the writer lock was held"
        fcntl.flock(lk, fcntl.LOCK_UN)
        os.close(lk)
        assert done.wait(120.0), "refresh never acquired the released lock"
        t.join()
        out = incremental_refresh(
            spark, mart, src([]), transform, "ts", ["k"], "ts"
        )
        assert sorted((r.k, r.v) for r in out.collect()) == [(1, "a"), (2, "b")]
    finally:
        shutil.rmtree(mart, ignore_errors=True)


def test_chunking_is_a_narrow_map_stage(spark):
    """chunk_documents must compile to scan→project(explode) with ZERO
    Exchange: chunking 100 TB of documents should never shuffle."""
    from steam_data_engineer_project_spark.operators.chunking import (
        chunk_documents,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (
        chunk_documents(docs, "text", "doc_id", 512, 64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_packing_costs_exactly_one_shuffle(spark):
    """pack_sequences pays ONE hash Exchange (the per-shard window) — a
    second Exchange would mean the shard routing isn't driving the window
    partitioning."""
    from steam_data_engineer_project_spark.operators.chunking import (
        pack_sequences,
        whitespace_token_count,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
        "n_tokens", whitespace_token_count(F.col("text"))
    )
    plan = (
        pack_sequences(docs, "doc_id", "n_tokens", budget=1024)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
