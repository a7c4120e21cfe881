"""Unit tests for the operator/function library on tiny in-memory fixtures —
the edge cases the oracle-parity queries can't reach (nulls, garbage input,
guard rails, non-default dimensions).
"""

from __future__ import annotations

from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from steam_data_engineer_project_spark.functions.scalars import (
    clean_array_string,
    comma_split,
    format_cents,
    initial_price,
    initial_price_cents,
    parse_discount,
    parse_release_date,
    to_cents,
)
from steam_data_engineer_project_spark.operators.merge import (
    insert_ignore,
    merge_monotone_max,
    upsert_last_wins,
)
from steam_data_engineer_project_spark.operators.ranking import global_row_number
from steam_data_engineer_project_spark.operators.similarity import (
    brute_force_cosine_topk,
    embedding_near_dup_pairs,
    ivf_cosine_topk,
    lsh_bucket_id,
    lsh_bucket_cosine_topk,
    query_bucket_id,
)


def _one_col(spark, values, name="v"):
    return spark.createDataFrame([Row(**{name: v}) for v in values])


def _scratch(prefix):
    import os
    import tempfile

    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
    )
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(prefix=prefix, dir=base)


# ---------------------------------------------------------------- scalars


def test_to_cents_reference_cases(spark):
    # tasks/steam_tasks_improved.py:322-339 cases: EU comma, dot, bare int,
    # empty/None/garbage -> null.
    df = _one_col(spark, ["12,34", "12.34", "12", "", None, "abc", " 5,00 "])
    out = [r.c for r in df.select(to_cents(F.col("v")).alias("c")).collect()]
    assert out == [1234, 1234, 1200, None, None, None, 500]


def test_format_cents_and_roundtrip(spark):
    df = _one_col(spark, [1234, 500, 7, 0])
    disp = [r.d for r in df.select(format_cents(F.col("v")).alias("d")).collect()]
    assert disp == ["12,34", "5,00", "0,07", "0,00"]
    back = [
        r.c
        for r in df.select(to_cents(format_cents(F.col("v"))).alias("c")).collect()
    ]
    assert back == [1234, 500, 7, 0]


def test_parse_discount(spark):
    df = _one_col(spark, ["50%", "12,5%", "0", "", None, "x%"])
    out = [r.d for r in df.select(parse_discount(F.col("v")).alias("d")).collect()]
    assert out == [50.0, 12.5, 0.0, 0.0, 0.0, 0.0]


def test_initial_price_cents_guards(spark):
    # (current_cents, discount_pct) -> reference guard chain
    rows = [(0, 50.0), (-5, 50.0), (1000, 0.0), (1000, -1.0), (500, 50.0), (999, 33.0)]
    df = spark.createDataFrame(rows, ["c", "d"])
    out = [
        r.i
        for r in df.select(
            initial_price_cents(F.col("c"), F.col("d")).alias("i")
        ).collect()
    ]
    # 500/(1-0.5)=1000; 999/(0.67)=1491.04... -> 1491
    assert out == [0, 0, 1000, 1000, 1000, 1491]


def test_initial_price_float_variant(spark):
    rows = [(10.0, 50.0), (10.0, 0.0), (10.0, -5.0)]
    df = spark.createDataFrame(rows, ["p", "d"])
    out = [
        round(r.i, 6)
        for r in df.select(initial_price(F.col("p"), F.col("d")).alias("i")).collect()
    ]
    assert out == [20.0, 10.0, 10.0]


def test_clean_array_string_and_split(spark):
    df = _one_col(spark, ["['Action',  'Indie RPG']"])
    plain = df.select(clean_array_string(F.col("v")).alias("c")).collect()[0].c
    assert plain == "Action, Indie RPG"
    lang = (
        df.select(clean_array_string(F.col("v"), language_mode=True).alias("c"))
        .collect()[0]
        .c
    )
    assert lang == "Action, Indie RPG"
    items = (
        df.select(comma_split(clean_array_string(F.col("v"))).alias("a"))
        .collect()[0]
        .a
    )
    assert items == ["Action", "Indie RPG"]


def test_clean_array_string_language_stars(spark):
    df = _one_col(spark, ["['English*', 'French* ', 'German']"])
    lang = (
        df.select(clean_array_string(F.col("v"), language_mode=True).alias("c"))
        .collect()[0]
        .c
    )
    assert lang == "English, French, German"


def test_parse_release_date(spark):
    df = _one_col(spark, ["12 Aug, 2020", "1 Jan, 1999", "garbage", None])
    out = [
        str(r.d) if r.d else None
        for r in df.select(parse_release_date(F.col("v")).alias("d")).collect()
    ]
    assert out == ["2020-08-12", "1999-01-01", None, None]


# ---------------------------------------------------------------- merge


def _merge_fixtures(spark):
    existing = spark.createDataFrame(
        [(1, "old-a", 10), (2, "old-b", 20)], ["k", "payload", "ts"]
    )
    incoming = spark.createDataFrame(
        [(2, "new-b1", 15), (2, "new-b2", 25), (3, "new-c", 5)],
        ["k", "payload", "ts"],
    )
    return existing, incoming


def test_upsert_last_wins(spark):
    existing, incoming = _merge_fixtures(spark)
    out = {
        r.k: r.payload
        for r in upsert_last_wins(existing, incoming, ["k"], "ts").collect()
    }
    # k=1 untouched; k=2 incoming wins (max ts within incoming); k=3 added
    assert out == {1: "old-a", 2: "new-b2", 3: "new-c"}


def test_upsert_incoming_beats_existing_even_if_older(spark):
    existing, incoming = _merge_fixtures(spark)
    only_older = incoming.filter(F.col("ts") == 15)  # older than existing's 20
    out = {
        r.k: r.payload
        for r in upsert_last_wins(existing, only_older, ["k"], "ts").collect()
    }
    assert out[2] == "new-b1"  # processing-order precedence, not event-time


def test_insert_ignore(spark):
    existing, incoming = _merge_fixtures(spark)
    out = {
        r.k: r.payload
        for r in insert_ignore(existing, incoming, ["k"], ["ts"]).collect()
    }
    # k=2 exists -> kept; k=3 absent -> first (min ts) incoming row added
    assert out == {1: "old-a", 2: "old-b", 3: "new-c"}


def test_merge_monotone_max(spark):
    existing, incoming = _merge_fixtures(spark)
    out = {
        r.k: r.ts
        for r in merge_monotone_max(existing, incoming, ["k"], "ts").collect()
    }
    assert out == {1: 10, 2: 25, 3: 5}
    # late (smaller) arrivals never regress
    late = spark.createDataFrame([(1, "late", 1)], ["k", "payload", "ts"])
    out2 = {
        r.k: r.ts for r in merge_monotone_max(existing, late, ["k"], "ts").collect()
    }
    assert out2[1] == 10


# ---------------------------------------------------------------- similarity


def test_lsh_bucket_dim_agnostic(spark):
    # 16-dim embedding: data-side bucket must equal the Python query-side
    # bucket for the same vector (the round-1 bug hardcoded dim 64).
    vecs = [
        [1.0, -1.0, 0.5, -0.5, 2.0, -2.0, 0.1, -0.1, 1.0, 1.0, -1.0, -1.0, 0.3, -0.3, 0.7, -0.7],
        [-1.0] * 16,
        [1.0] * 16,
    ]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)], ["id", "vec"])
    got = {
        r.id: r.b
        for r in df.select("id", lsh_bucket_id(F.col("vec")).alias("b")).collect()
    }
    for i, v in enumerate(vecs):
        assert got[i] == query_bucket_id(v), f"vec {i}: data/query bucket mismatch"


def test_lsh_topk_multiprobe_finds_query(spark):
    vecs = [[float(i % 3 - 1)] * 16 if i else [1.0] * 16 for i in range(20)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)], ["id", "vec"])
    out = lsh_bucket_cosine_topk(df, "vec", "id", [1.0] * 16, k=5).collect()
    assert out, "multi-probe returned nothing"
    assert out[0].id == 0 and abs(out[0].cosine - 1.0) < 1e-6


def test_embedding_near_dup_pairs(spark):
    # Two near-identical vectors (same signs -> same LSH bucket, cosine ~1)
    # plus an orthogonal-ish distractor that must not pair with them.
    base = [1.0, -2.0, 0.5, -0.25] * 4
    near = [v * 1.01 + (0.001 if i == 0 else 0.0) for i, v in enumerate(base)]
    far = [(-1.0) ** i * (0.1 + i) for i in range(16)]
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far)], ["id", "vec"]
    )
    out = embedding_near_dup_pairs(df, "vec", "id", threshold=0.95).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(0, 1)]
    assert out[0].cosine > 0.999


def test_ivf_topk_matches_brute_force_when_probing_all(spark):
    # With n_probe == n_centroids nothing is pruned, so IVF must equal the
    # exact brute-force ranking.
    import random

    rng = random.Random(7)
    vecs = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(60)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)], ["id", "vec"])
    q = vecs[5]
    ivf = ivf_cosine_topk(df, "vec", "id", q, k=8, n_centroids=4, n_probe=4)
    exact = brute_force_cosine_topk(df, "vec", "id", q, k=8)
    assert [r.id for r in ivf.collect()] == [r.id for r in exact.collect()]


def test_ivf_probe_prunes_candidates(spark):
    # Two well-separated sign clusters; probing 1 of 2 centroids must only
    # score vectors from the query's cluster.
    pos = [[1.0 + 0.01 * i] * 8 for i in range(10)]
    neg = [[-1.0 - 0.01 * i] * 8 for i in range(10)]
    # ids 0 and 1 are the centroids: one from each cluster.
    rows = [(0, pos[0]), (1, neg[0])]
    rows += [(i + 2, v) for i, v in enumerate(pos[1:] + neg[1:])]
    df = spark.createDataFrame(rows, ["id", "vec"])
    out = ivf_cosine_topk(
        df, "vec", "id", [1.0] * 8, k=20, n_centroids=2, n_probe=1
    ).collect()
    assert {r.id for r in out} == {0, *range(2, 11)}


# ---------------------------------------------------------------- ranking


def test_global_row_number_matches_window(spark):
    df = spark.createDataFrame([(f"name-{i:04d}",) for i in range(500)], ["name"])
    scalable = {
        r.name: r.rn
        for r in global_row_number(df, ["name"], "rn", num_partitions=8).collect()
    }
    baseline = {
        r.name: r.rn
        for r in df.select(
            "name", F.row_number().over(Window.orderBy("name")).alias("rn")
        ).collect()
    }
    assert scalable == baseline


# ---------------------------------------------------------------- skew


def test_salted_aggregate_matches_plain_groupby(spark):
    from steam_data_engineer_project_spark.operators.skew import salted_aggregate

    # One deliberately hot key ('hot' holds 90% of rows) plus nulls in the
    # aggregated columns to prove null semantics survive the two-phase split.
    rows = [("hot", i, i % 7, float(i % 13)) for i in range(900)]
    rows += [("cold", 1000 + i, None, None) for i in range(100)]
    df = spark.createDataFrame(rows, ["k", "id", "x", "v"])
    got = {
        r.k: (r.x, r.id, r.v, r.n)
        for r in salted_aggregate(
            df, ["k"], sums=["x"], mins=["id"], maxs=["v"], count="n", num_salts=8
        ).collect()
    }
    want = {
        r.k: (r.x, r.id, r.v, r.n)
        for r in df.groupBy("k")
        .agg(
            F.sum("x").alias("x"),
            F.min("id").alias("id"),
            F.max("v").alias("v"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert got == want


def test_salted_join_matches_plain_join(spark):
    from steam_data_engineer_project_spark.operators.skew import salted_join

    # Hot key on the big side; small side has duplicate keys (fan-out) and a
    # key missing from big, plus big has a key missing from small (left join).
    big = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [("cold", 9000), ("orphan", 9001)],
        ["k", "bid"],
    )
    small = spark.createDataFrame(
        [("hot", "h1"), ("hot", "h2"), ("cold", "c1"), ("unused", "u1")],
        ["k", "tag"],
    )
    for how in ("inner", "left"):
        got = sorted(
            (r.k, r.bid, r.tag) for r in salted_join(big, small, ["k"], 8, how).collect()
        )
        want = sorted((r.k, r.bid, r.tag) for r in big.join(small, ["k"], how).collect())
        assert got == want, how


def test_row_rules_single_pass_matches_individual_checks(spark):
    from steam_data_engineer_project_spark.quality import (
        accepted_range,
        accepted_range_rule,
        not_null,
        not_null_rule,
        row_rules_single_pass,
    )

    df = spark.createDataFrame(
        [
            Row(title="a", age=5),
            Row(title=None, age=30),
            Row(title="b", age=None),
            Row(title=None, age=-1),
        ]
    )
    got = {
        r.rule: r.violations
        for r in row_rules_single_pass(
            df,
            [
                ("title_not_null", not_null_rule("title")),
                ("age_range", accepted_range_rule("age", 0, 18)),
            ],
        ).collect()
    }
    assert got == {"title_not_null": 2, "age_range": 2}
    # identical to the one-rule-per-scan checks
    assert got["title_not_null"] == not_null(df, "title", "x").collect()[0].violations
    assert got["age_range"] == accepted_range(df, "age", 0, 18, "x").collect()[0].violations


def test_row_rules_single_pass_empty_table(spark):
    from steam_data_engineer_project_spark.quality import (
        not_null_rule,
        row_rules_single_pass,
    )

    df = spark.createDataFrame([Row(title="a")]).filter(F.lit(False))
    rows = row_rules_single_pass(df, [("t", not_null_rule("title"))]).collect()
    assert [(r.rule, r.violations) for r in rows] == [("t", 0)]


def test_single_rule_checks_report_zero_on_empty_table(spark):
    from steam_data_engineer_project_spark.quality import accepted_range, not_null

    df = spark.createDataFrame([Row(title="a", age=5)]).filter(F.lit(False))
    assert not_null(df, "title", "t").collect()[0].violations == 0
    assert accepted_range(df, "age", 0, 18, "a").collect()[0].violations == 0


def test_row_rules_single_pass_escapes_quoted_rule_names(spark):
    from steam_data_engineer_project_spark.quality import (
        not_null_rule,
        row_rules_single_pass,
    )

    df = spark.createDataFrame([(None,)], "title string")
    rows = row_rules_single_pass(
        df, [("game's title not null", not_null_rule("title"))]
    ).collect()
    assert [(r.rule, r.violations) for r in rows] == [("game's title not null", 1)]


def test_davg_exact_past_double_precision(spark):
    """The davg quotient must be computed in long space: with micro-unit
    sums beyond 2^53 a double-division detour silently rounds. Values are
    chosen so sum*1e6 ≈ 4.5e16 > 2^53 ≈ 9.0e15."""
    from steam_data_engineer_project_spark.functions.aggregates import davg

    vals = [15_000_000_000.01, 15_000_000_000.03, 15_000_000_000.07]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = df.agg(davg(F.col("v")).alias("a")).collect()[0].a
    # exact integer reference: micro-unit cents arithmetic in Python ints
    micro = sum(round(v * 100) * 10_000 for v in vals)
    assert micro > 2**53
    want = (micro // len(vals)) / 1_000_000.0
    assert got == want


def test_davg_property_matches_exact_ints_and_duckdb(spark):
    """Property test (VERDICT r3 #5): for ANY positive 2-dp inputs —
    including sums far past 2^53, where a double-division detour silently
    rounds — davg must equal both the exact Python integer floor-division
    and DuckDB's BIGINT // arithmetic (the oracle-side expression)."""
    import duckdb
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from steam_data_engineer_project_spark.functions.aggregates import davg

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.integers(min_value=0, max_value=10**13),  # cents; values ≤ 1e11
            min_size=1,
            max_size=8,
        )
    )
    def check(cents):
        vals = [c / 100.0 for c in cents]
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        got = df.agg(davg(F.col("v")).alias("a")).collect()[0].a
        # exact integer reference (micro-units, floor division)
        micro = sum(round(v * 100) * 10_000 for v in vals)
        want = (micro // len(vals)) / 1_000_000.0
        assert got == want, (cents, got, want)
        # and DuckDB's BIGINT // over the same doubles agrees bit-for-bit
        con = duckdb.connect()
        duck = con.execute(
            "SELECT CAST(SUM(CAST(v AS DECIMAL(24,2))) * 1000000 AS BIGINT)"
            " // COUNT(v) / 1000000.0 AS a FROM (SELECT UNNEST(?) AS v)",
            [vals],
        ).fetchone()[0]
        assert got == duck, (cents, got, duck)

    check()


def test_salted_join_rejects_outer_joins(spark):
    import pytest

    from steam_data_engineer_project_spark.operators.skew import salted_join

    big = spark.createDataFrame([("a", 1)], ["k", "bid"])
    small = spark.createDataFrame([("a", "x")], ["k", "tag"])
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError):
            salted_join(big, small, ["k"], 4, how)


def test_salted_aggregate_spreads_identical_duplicate_rows(spark):
    from steam_data_engineer_project_spark.operators.skew import (
        _salt_col,
        salted_aggregate,
    )

    # A hot key whose rows are ALL byte-identical: pure content hashing
    # would collapse every row onto ONE salt and stay skewed. The
    # partition-id mix must spread them while the aggregate stays exact.
    df = spark.createDataFrame([("hot", 1.0)] * 1000, ["k", "v"]).repartition(8)
    got = salted_aggregate(df, ["k"], sums=["v"], count="n", num_salts=8).collect()
    assert [(r.k, r.v, r.n) for r in got] == [("hot", 1000.0, 1000)]
    n_salts = (
        df.select(_salt_col(df, 8).alias("s")).distinct().count()
    )
    assert n_salts > 1, "identical duplicate rows all landed on one salt"


def test_salt_hash_tolerates_map_columns_and_dotted_names(spark):
    """ADVICE regressions on the salt hash itself: a MapType column must not
    break it (Spark forbids hashing maps — it is excluded), and a column
    name containing a dot must resolve literally, not as a nested-field
    path. The aggregate over such a frame stays exact."""
    from steam_data_engineer_project_spark.operators.skew import (
        _salt_col,
        salted_aggregate,
    )

    df = spark.createDataFrame(
        [("a", 1.0, {"x": 1}), ("a", 2.0, {"y": 2}), ("b", 3.0, None)],
        "k string, v double, m map<string,int>",
    ).withColumnRenamed("v", "val.ue")
    # the salt evaluates (no AnalysisException) and stays in range
    salts = [r.s for r in df.select(_salt_col(df, 4).alias("s")).collect()]
    assert all(0 <= s < 4 for s in salts)
    # and the full aggregate over a map-bearing frame is exact
    got = sorted(
        (r.k, r.v, r.n)
        for r in salted_aggregate(
            df.selectExpr("k", "`val.ue` AS v", "m"), ["k"], sums=["v"],
            count="n", num_salts=4,
        ).collect()
    )
    assert got == [("a", 3.0, 2), ("b", 3.0, 1)]


# ------------------------------------------------- pruned physical layouts


def test_lsh_bucketed_layout_prunes_partitions_and_matches(spark):
    """similarity.lsh_bucket_cosine_topk_pruned over a table WRITTEN
    partitioned by LSH bucket: the probe list must land in the FileScan's
    PartitionFilters (only probed bucket dirs are read) and results must
    equal the compute-in-plan variant."""
    import os
    import re
    import shutil

    from steam_data_engineer_project_spark.operators.similarity import (
        lsh_bucket_cosine_topk,
        lsh_bucket_cosine_topk_pruned,
        lsh_bucket_id,
    )

    work = _scratch("lsh_layout_")
    try:
        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        qv = [float(x) for x in e.filter(F.col("vec_id") == 0).first().embedding]
        layout = os.path.join(work, "emb_by_bucket")
        e.withColumn("bucket", lsh_bucket_id(F.col("embedding"))).write.partitionBy(
            "bucket"
        ).parquet(layout)

        bdf = spark.read.parquet(layout)
        out = lsh_bucket_cosine_topk_pruned(bdf, "embedding", "vec_id", qv, k=10)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"PartitionFilters: \[[^\]]*bucket", plan), plan

        got = [(r.vec_id, int(r.bucket), r.cosine) for r in out.collect()]
        want = [
            (r.vec_id, int(r.bucket), r.cosine)
            for r in lsh_bucket_cosine_topk(e, "embedding", "vec_id", qv, k=10).collect()
        ]
        assert got == want
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ------------------------------------------------------------ temporal joins


def test_asof_join_backward_inclusive_left(spark):
    """Equal ts matches (inclusive), later right rows don't, keys are
    isolated, and a left row with no earlier right row keeps typed nulls."""
    from steam_data_engineer_project_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 50, "d"), (3, 7, "e")],
        ["k", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 60, 600.0), (9, 1, 900.0)],
        ["k", "ts", "price"],
    )
    out = asof_join(left, right, ["k"], "ts", "ts", ["price"])
    got = {(r.k, r.ts): (r.asof_ts, r.price) for r in out.collect()}
    assert got == {
        (1, 10): (10, 100.0),  # inclusive: equal ts matches
        (1, 20): (15, 150.0),  # latest at-or-before
        (1, 5): (None, None),  # nothing earlier
        (2, 50): (None, None),  # right row is later
        (3, 7): (None, None),  # key absent on the right
    }
    assert out.count() == left.count()  # LEFT join: every left row survives


def test_asof_join_null_payload_value_not_skipped(spark):
    """A matched right row whose payload VALUE is null must win over an older
    non-null row (the struct pack guards last(ignorenulls))."""
    from steam_data_engineer_project_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 30)], ["k", "ts"])
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, None)], ["k", "ts", "price"]
    )
    got = asof_join(left, right, ["k"], "ts", "ts", ["price"]).collect()[0]
    assert got.asof_ts == 20 and got.price is None


def test_range_join_bucketed_matches_inequality_join(spark):
    """Bucketized range join == the naive inequality join, across bucket
    widths that do and don't divide the interval widths."""
    import random

    from steam_data_engineer_project_spark.operators.temporal import (
        range_join_bucketed,
    )

    rng = random.Random(7)
    points = spark.createDataFrame(
        [(i, rng.uniform(0, 100)) for i in range(300)], ["pid", "x"]
    )
    ivs = spark.createDataFrame(
        [
            (j, lo, lo + rng.uniform(0.5, 25))
            for j in range(40)
            for lo in [rng.uniform(-5, 95)]
        ],
        ["iid", "lo", "hi"],
    )
    want = sorted(
        (r.pid, r.iid)
        for r in points.join(
            ivs, (points.x >= ivs.lo) & (points.x < ivs.hi)
        ).collect()
    )
    for width in (10.0, 7.3):
        got = sorted(
            (r.pid, r.iid)
            for r in range_join_bucketed(points, ivs, "x", "lo", "hi", width).collect()
        )
        assert got == want, f"width={width}"


def test_asof_join_matches_bruteforce_on_random_data(spark):
    """Differential test: 5 seeded random datasets (duplicate left
    timestamps, sparse keys, nullable payload) vs a per-row Python brute
    force. Guards the union+window formulation's subtle parts: tie
    ordering, struct packing, per-key isolation."""
    import random

    from steam_data_engineer_project_spark.operators.temporal import asof_join

    for seed in range(5):
        rng = random.Random(seed)
        keys = list(range(4))
        lrows = [
            (rng.choice(keys), rng.randrange(0, 40), i) for i in range(60)
        ]
        rrows = []
        used = set()
        for _ in range(30):
            k, ts = rng.choice(keys), rng.randrange(0, 40)
            if (k, ts) in used:  # asof precondition: unique (key, ts)
                continue
            used.add((k, ts))
            rrows.append(
                (k, ts, None if rng.random() < 0.2 else rng.random())
            )
        left = spark.createDataFrame(lrows, ["k", "ts", "lid"])
        right = spark.createDataFrame(rrows, ["k", "ts", "v"])
        got = {
            r.lid: (r.asof_ts, r.v)
            for r in asof_join(left, right, ["k"], "ts", "ts", ["v"]).collect()
        }
        for k, ts, lid in lrows:
            cands = [(rts, v) for (rk, rts, v) in rrows if rk == k and rts <= ts]
            want = max(cands, key=lambda c: c[0]) if cands else (None, None)
            assert got[lid] == want, f"seed={seed} lid={lid}"


# ------------------------------------------------- chunking & sequence packing


def test_chunk_documents_covers_text_with_overlap(spark):
    """Every character appears in some chunk; consecutive chunks overlap by
    exactly overlap_chars; stitching chunks (dropping each successor's
    overlap prefix) reconstructs the document byte-for-byte; short/empty
    texts produce exactly one chunk."""
    from steam_data_engineer_project_spark.operators.chunking import (
        chunk_documents,
    )

    texts = [
        (1, "abcdefghij" * 53),   # 530 chars — several chunks
        (2, "short"),
        (3, ""),
        (4, "x" * 200),           # exactly one chunk width
        (5, "y" * 201),           # one char past → second chunk
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    chunks = {
        (r.doc_id, r.chunk_idx): r.chunk_text
        for r in chunk_documents(df, "text", "doc_id", 200, 40).collect()
    }
    stride = 160
    for doc_id, text in texts:
        idxs = sorted(i for (d, i) in chunks if d == doc_id)
        assert idxs == list(range(len(idxs)))  # dense 0..n-1
        if len(text) <= 200:
            assert idxs == [0] and chunks[(doc_id, 0)] == text
            continue
        # reconstruction: chunk 0 whole, then each chunk minus its overlap
        rebuilt = chunks[(doc_id, 0)] + "".join(
            chunks[(doc_id, i)][40:] for i in idxs[1:]
        )
        assert rebuilt == text, doc_id
        for i in idxs[1:]:  # consecutive chunks share the overlap
            assert chunks[(doc_id, i - 1)][stride:] == chunks[(doc_id, i)][:40]


def test_pack_sequences_budget_and_determinism(spark):
    """Packing is partitioning-independent, every pack's token total is
    bounded by budget + (its last doc's tokens), an oversized doc gets a
    pack that closes after it, and no pack is empty."""
    import random

    from pyspark.sql import functions as F

    from steam_data_engineer_project_spark.operators.chunking import (
        pack_sequences,
    )

    rng = random.Random(7)
    rows = [(i, rng.randrange(1, 400)) for i in range(500)]
    rows.append((9001, 5000))  # oversized: alone past any 512 budget
    df = spark.createDataFrame(rows, "doc_id long, toks long")
    a = {
        r.doc_id: r.pack_id
        for r in pack_sequences(df, "doc_id", "toks", 512, 8).collect()
    }
    b = {
        r.doc_id: r.pack_id
        for r in pack_sequences(
            df.repartition(13), "doc_id", "toks", 512, 8
        ).collect()
    }
    assert a == b  # byte-stable under partitioning

    per_pack: dict[int, list[int]] = {}
    toks = dict(rows)
    for doc, pack in a.items():
        per_pack.setdefault(pack, []).append(toks[doc])
    for pack, sizes in per_pack.items():
        assert sum(sizes) <= 512 + max(sizes), pack  # bounded overflow
    # the doc after the oversized one started a fresh bin: the giant's pack
    # holds only docs that started before the budget line it blew through
    giant_pack = a[9001]
    assert sum(per_pack[giant_pack]) >= 5000


def test_chunk_uid_is_collision_free_past_1000_chunks(spark):
    """The e2e pipeline's chunk key ("doc_id:chunk_idx" string composite)
    must stay unique for a >1000-chunk document — the regime where the old
    doc_id*1000+idx arithmetic silently collided (any doc over ~160k chars
    at 200/40 chunking), corrupting pack accounting. Plant a 170k-char doc
    next to the doc whose ids its chunks used to collide into, and verify
    uid uniqueness plus exact token conservation through packing."""
    from pyspark.sql import functions as F

    from steam_data_engineer_project_spark.operators.chunking import (
        chunk_documents,
        pack_sequences,
        whitespace_token_count,
    )

    long_text = ("word " * 4) + ("lorem ipsum dolor sit amet " * 6300)
    df = spark.createDataFrame(
        [(7, long_text), (7001, "victim doc seven thousand one"),
         (7002, "second bystander document")],
        "doc_id long, text string",
    )
    chunks = chunk_documents(df, "text", "doc_id", 200, 40)
    ch = chunks.select(
        F.concat_ws(
            ":", F.col("doc_id").cast("string"), F.col("chunk_idx").cast("string")
        ).alias("chunk_uid"),
        whitespace_token_count(F.col("chunk_text")).alias("toks"),
    )
    n_chunks = ch.count()
    assert n_chunks > 1000 + 2  # the planted doc really exceeds 1000 chunks
    assert ch.select("chunk_uid").distinct().count() == n_chunks  # no collisions
    packed = pack_sequences(ch, "chunk_uid", "toks", budget=512, num_shards=16)
    # every chunk admitted exactly once: pack token totals == chunk totals
    assert packed.count() == n_chunks
    assert (
        packed.agg(F.sum("toks")).first()[0]
        == ch.agg(F.sum("toks")).first()[0]
    )


# ------------------------------------------------------------------ sampling


def test_deterministic_split_is_stable_and_proportional(spark):
    from steam_data_engineer_project_spark.operators.sampling import (
        deterministic_split,
    )

    df = spark.range(20_000).withColumnRenamed("id", "doc_id")
    fr = {"train": 0.8, "valid": 0.1, "test": 0.1}
    a = deterministic_split(df, "doc_id", fr)
    # stable under repartitioning: the split is a pure function of the key
    b = deterministic_split(df.repartition(13), "doc_id", fr)
    ga = {r.doc_id: r.split for r in a.collect()}
    gb = {r.doc_id: r.split for r in b.collect()}
    assert ga == gb
    from collections import Counter

    c = Counter(ga.values())
    assert set(c) == {"train", "valid", "test"}
    assert abs(c["train"] / 20_000 - 0.8) < 0.02
    assert abs(c["valid"] / 20_000 - 0.1) < 0.01
    assert abs(c["test"] / 20_000 - 0.1) < 0.01


def test_stratified_sample_exact_counts_and_determinism(spark):
    from steam_data_engineer_project_spark.operators.sampling import (
        stratified_sample_exact,
    )

    df = spark.createDataFrame(
        [(i % 7, i) for i in range(5_000)] + [(99, 0)], ["stratum", "k"]
    )
    s1 = stratified_sample_exact(df, "stratum", "k", 25)
    s2 = stratified_sample_exact(df.repartition(9), "stratum", "k", 25)
    r1 = sorted((r.stratum, r.k) for r in s1.collect())
    assert r1 == sorted((r.stratum, r.k) for r in s2.collect())
    from collections import Counter

    c = Counter(s for s, _ in r1)
    assert all(c[s] == 25 for s in range(7))
    assert c[99] == 1  # stratum smaller than n keeps all its rows


def test_shard_manifest_covers_partition_and_orders(spark):
    """shard_manifest: every row lands in exactly one shard (counts and
    token totals partition the input), assignment + boundary keys are
    pure functions of the key (stable under repartitioning), and the
    first/last keys match a pure-Python replay of the hash read order."""
    import hashlib

    from steam_data_engineer_project_spark.operators.sampling import (
        shard_manifest,
    )

    n, shards = 4_000, 16
    df = spark.createDataFrame(
        [(i, (i % 13) + 1) for i in range(n)], ["doc_id", "n_tokens"]
    )
    m1 = sorted(map(tuple, shard_manifest(df, "doc_id", "n_tokens", shards).collect()))
    m2 = sorted(
        map(tuple, shard_manifest(df.repartition(7), "doc_id", "n_tokens", shards).collect())
    )
    assert m1 == m2  # manifest is execution-independent

    def bucket(k):
        return int(hashlib.md5(f"v:{k}".encode()).hexdigest()[:8], 16)

    # python replay: shard assignment + (hash, key) read order per shard
    by_shard: dict[int, list] = {}
    for i in range(n):
        by_shard.setdefault(bucket(i) % shards, []).append(
            (bucket(i) % (1 << 31), i)
        )
    expect = []
    for s, members in by_shard.items():
        members.sort()
        expect.append(
            (
                s,
                len(members),
                sum((k % 13) + 1 for _, k in members),
                members[0][1],
                members[-1][1],
            )
        )
    assert m1 == sorted(expect)
    # partition property: counts and token totals sum to the input's
    assert sum(r[1] for r in m1) == n
    assert sum(r[2] for r in m1) == sum((i % 13) + 1 for i in range(n))


def test_write_shards_round_trips_the_manifest(spark, tmp_path):
    """write_shards ↔ shard_manifest is the loader handoff: the WRITTEN
    shard directories — read loader-side with pyarrow, no Spark — must
    show exactly the manifest's per-shard counts, token totals, and
    first/last boundary keys, with each shard one file whose positional
    row order is the manifest's deterministic read order (hash order,
    key-tiebroken). Together the shards partition the input exactly."""
    import glob
    import hashlib
    import os

    import pyarrow.parquet as pq

    from steam_data_engineer_project_spark.operators.sampling import (
        shard_manifest,
        write_shards,
    )

    n, shards = 3_000, 8
    df = spark.createDataFrame(
        [(i, (i % 11) + 1, f"doc {i}") for i in range(n)],
        ["doc_id", "n_tokens", "text"],
    )
    path = str(tmp_path / "export")
    write_shards(df, "doc_id", "n_tokens", shards, path)
    manifest = {
        r.shard_id: r
        for r in shard_manifest(df, "doc_id", "n_tokens", shards).collect()
    }

    dirs = {d for d in os.listdir(path) if d.startswith("shard_id=")}
    assert dirs == {f"shard_id={s}" for s in manifest}

    def bucket(k):
        return int(hashlib.md5(f"v:{k}".encode()).hexdigest()[:8], 16)

    seen: list[int] = []
    for sid, m in manifest.items():
        files = sorted(glob.glob(os.path.join(path, f"shard_id={sid}", "*.parquet")))
        assert len(files) == 1, f"shard {sid}: expected one sorted run, got {files}"
        t = pq.read_table(files[0])
        keys = t.column("doc_id").to_pylist()
        assert len(keys) == m.n_docs
        assert sum(t.column("n_tokens").to_pylist()) == m.n_tokens
        assert keys[0] == m.first_key and keys[-1] == m.last_key
        assert keys == sorted(keys, key=lambda k: (bucket(k) % (1 << 31), k)), (
            f"shard {sid}: file order is not the manifest's read order"
        )
        seen += keys
    assert sorted(seen) == list(range(n))


def test_shard_order_contract_holds_for_negative_keys(spark, tmp_path):
    """The shard order encoding bias-shifts the signed key into an
    unsigned fixed-width string (round-10 judge ask: a signed '%d'
    render silently corrupted lexicographic order for negative keys).
    Keys spanning the FULL long range — both extremes included — must
    produce manifest boundary keys and written positional order equal to
    the numeric (hash, key) order, and the biased order must be
    IDENTICAL to the unbiased one on a non-negative-only corpus so
    existing manifests are unaffected."""
    import glob
    import hashlib
    import os

    import pyarrow.parquet as pq

    from steam_data_engineer_project_spark.operators.sampling import (
        shard_manifest,
        write_shards,
    )

    keys = list(range(-600, 600)) + [-(2**63), 2**63 - 1]
    shards = 4
    df = spark.createDataFrame(
        [(k, (abs(k) % 7) + 1) for k in keys], ["doc_id", "n_tokens"]
    )

    def bucket(k):
        return int(hashlib.md5(f"v:{k}".encode()).hexdigest()[:8], 16)

    def order_key(k):
        return (bucket(k) % (1 << 31), k)

    manifest = {
        r.shard_id: r
        for r in shard_manifest(df, "doc_id", "n_tokens", shards).collect()
    }
    path = str(tmp_path / "export_neg")
    write_shards(df, "doc_id", "n_tokens", shards, path)

    seen: list[int] = []
    for sid, m in manifest.items():
        members = sorted(
            (k for k in keys if bucket(k) % shards == sid), key=order_key
        )
        assert (m.first_key, m.last_key) == (members[0], members[-1])
        files = glob.glob(os.path.join(path, f"shard_id={sid}", "*.parquet"))
        assert len(files) == 1
        got = pq.read_table(files[0]).column("doc_id").to_pylist()
        assert got == members, f"shard {sid}: written order != numeric order"
        seen += got
    assert sorted(seen) == sorted(keys)

    # bias-encode is order-identical to the old unsigned encoding on
    # non-negative keys: pinned by comparing against the raw '%012d' sort
    nonneg = [k for k in keys if k >= 0]
    old = sorted(nonneg, key=lambda k: f"{bucket(k) % (1 << 31):010d}:{k:012d}")
    assert old == sorted(nonneg, key=order_key)


def test_shard_manifest_property_random_signed_keys(spark):
    """Hypothesis property for the shard contract: for ARBITRARY unique
    signed-long key sets (the engine draws near-boundary magnitudes
    hypothesis loves), the manifest's per-shard counts, token totals, and
    boundary keys equal a pure-Python replay of md5-bucketing + the
    (hash, key) numeric order — i.e. the fixed-width bias encoding is
    order-faithful over the whole domain, not just the pinned extremes."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from steam_data_engineer_project_spark.operators.sampling import (
        shard_manifest,
    )

    import hashlib

    def bucket(k):
        return int(hashlib.md5(f"v:{k}".encode()).hexdigest()[:8], 16)

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            min_size=1,
            max_size=40,
            unique=True,
        ),
        st.integers(min_value=1, max_value=5),
    )
    def check(keys, shards):
        df = spark.createDataFrame(
            [(k, (abs(k) % 7) + 1) for k in keys], "doc_id long, n_tokens long"
        )
        got = sorted(
            map(tuple, shard_manifest(df, "doc_id", "n_tokens", shards).collect())
        )
        expect = []
        by_shard: dict[int, list] = {}
        for k in keys:
            by_shard.setdefault(bucket(k) % shards, []).append(k)
        for s, members in by_shard.items():
            members.sort(key=lambda k: (bucket(k) % (1 << 31), k))
            expect.append(
                (
                    s,
                    len(members),
                    sum((abs(k) % 7) + 1 for k in members),
                    members[0],
                    members[-1],
                )
            )
        assert got == sorted(expect), (keys, shards)

    check()


def test_export_deferred_build_writes_nothing(spark, tmp_path):
    """export_shards_on_materialize is the DEFERRED twin of write_shards
    (round-11 ADVICE 4): BUILDING the DataFrame performs zero filesystem
    I/O — plan-only consumers (explain, exchange counting) never pay the
    write — and MATERIALIZING it writes the export and returns per-shard
    summaries computed from the WRITTEN bytes, which must equal
    shard_manifest's independent summary of the input."""
    import glob
    import os

    import pyarrow.parquet as pq

    from steam_data_engineer_project_spark.operators.sampling import (
        export_shards_on_materialize,
        shard_manifest,
    )

    n, shards = 2_000, 8
    df = spark.createDataFrame(
        [(i, (i % 11) + 1, f"doc {i}") for i in range(n)],
        ["doc_id", "n_tokens", "text"],
    )
    path = str(tmp_path / "deferred")
    out = export_shards_on_materialize(df, "doc_id", "n_tokens", shards, path)
    out.explain()  # plan-only consumption
    assert not os.path.exists(path) or not any(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    ), "building the deferred export wrote files before materialization"

    got = {r.shard_id: r for r in out.collect()}
    manifest = {
        r.shard_id: r
        for r in shard_manifest(df, "doc_id", "n_tokens", shards).collect()
    }
    assert set(got) == set(manifest)
    for sid, m in manifest.items():
        g = got[sid]
        assert (g.n_docs, g.n_tokens, g.first_key, g.last_key) == (
            m.n_docs,
            m.n_tokens,
            m.first_key,
            m.last_key,
        ), f"shard {sid}: written-bytes summary != manifest"
        files = glob.glob(os.path.join(path, f"shard_id={sid}", "*.parquet"))
        assert len(files) == 1, f"shard {sid}: expected one file, got {files}"
        t = pq.read_table(files[0])
        keys = t.column("doc_id").to_pylist()
        assert keys[0] == m.first_key and keys[-1] == m.last_key
        assert len(keys) == m.n_docs
    total = sum(r.n_docs for r in got.values())
    assert total == n


def test_export_deferred_commit_protocol_survives_torn_and_repeated_attempts(
    spark, tmp_path
):
    """The deferred writer's rename commit protocol (round-11 judge ask
    4): a shard's final file name is deterministic and committed with one
    atomic os.replace from a uuid-named hidden temp. This replays the
    exact filesystem states a retried or speculative write attempt
    produces — (a) a stale hidden temp from a crashed prior attempt
    already in the shard dir, and (b) a full re-run over ALREADY
    COMMITTED files (what every task of a retried stage or a second
    materialization does) — and asserts each shard dir still holds
    exactly ONE visible file whose content matches the manifest, with
    hidden temps invisible to both Spark and pyarrow dataset listings."""
    import glob
    import os

    import pyarrow.parquet as pq

    from steam_data_engineer_project_spark.operators.sampling import (
        export_shards_on_materialize,
        shard_manifest,
    )

    n, shards = 1_200, 4
    df = spark.createDataFrame(
        [(i - 600, (abs(i) % 5) + 1) for i in range(n)],
        ["doc_id", "n_tokens"],
    )
    path = str(tmp_path / "retry")
    # (a) plant a stale torn temp from a "crashed attempt" in every shard
    for sid in range(shards):
        d = os.path.join(path, f"shard_id={sid}")
        os.makedirs(d)
        with open(os.path.join(d, ".part-0.deadbeef.tmp"), "wb") as fh:
            fh.write(b"torn half-written attempt")

    out = export_shards_on_materialize(df, "doc_id", "n_tokens", shards, path)
    first = sorted(map(tuple, out.collect()))
    # (b) full re-attempt over committed files: every write task re-runs
    second = sorted(map(tuple, out.collect()))
    assert first == second, "a re-attempt changed the committed summaries"

    manifest = {
        r.shard_id: r
        for r in shard_manifest(df, "doc_id", "n_tokens", shards).collect()
    }
    for sid, m in manifest.items():
        d = os.path.join(path, f"shard_id={sid}")
        visible = [f for f in os.listdir(d) if not f.startswith(".")]
        assert visible == ["part-0.parquet"], (
            f"shard {sid}: retried attempts must leave ONE visible file, "
            f"got {visible}"
        )
        t = pq.read_table(os.path.join(d, visible[0]))
        keys = t.column("doc_id").to_pylist()
        assert len(keys) == m.n_docs
        assert keys[0] == m.first_key and keys[-1] == m.last_key
    # temps (planted or abandoned) stay dot-prefixed: Spark's read ignores
    # them, so the round-trip count equals the input count exactly
    assert spark.read.parquet(path).count() == n


def test_export_deferred_pins_schema_for_all_null_columns(spark, tmp_path):
    """Shard files carry the DataFrame's OWN schema, not one inferred
    from the first pandas chunk: a shard whose nullable string column is
    entirely null must still write a string-typed column (inference
    would type it null and schema-skew the export), and the read-back
    union must round-trip every value."""
    import glob
    import os

    import pyarrow.parquet as pq

    from steam_data_engineer_project_spark.operators.sampling import (
        export_shards_on_materialize,
    )

    n, shards = 400, 4
    # half the rows carry NULL text; with 4 content-hash shards every
    # shard holds a null-leading run somewhere
    df = spark.createDataFrame(
        [
            (i, (i % 5) + 1, None if i % 2 == 0 else f"doc {i}")
            for i in range(n)
        ],
        "doc_id long, n_tokens long, text string",
    )
    path = str(tmp_path / "nulls")
    rows = export_shards_on_materialize(
        df, "doc_id", "n_tokens", shards, path
    ).collect()
    assert sum(r.n_docs for r in rows) == n
    for f in glob.glob(os.path.join(path, "shard_id=*", "*.parquet")):
        field = pq.read_schema(f).field("text")
        assert str(field.type) == "string", (f, field)
    back = spark.read.parquet(path)
    assert dict(back.dtypes)["text"] == "string"
    assert back.filter("text is null").count() == n // 2
    assert back.count() == n


def test_export_deferred_survives_injected_task_retry(tmp_path):
    """A REAL Spark task retry composes with the deferred write: in a
    subprocess running ``local[2,2]`` (maxFailures=2) a flaky-once
    mapInPandas upstream of the export fails its first attempt, the job
    retries and succeeds, and the export still holds exactly one visible
    file per shard with the full row count (round-11 judge ask 4 — the
    injected-retry leg; the commit-protocol states a retried WRITE
    attempt itself produces are replayed by the torn/repeated-attempts
    test above)."""
    import os
    import subprocess
    import sys

    marker = str(tmp_path / "flaky_once_fired")
    path = str(tmp_path / "export")
    script = f"""
import glob, os, sys
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from steam_data_engineer_project_spark.operators.sampling import (
    export_shards_on_materialize,
)

marker, path = {marker!r}, {path!r}
spark = (
    SparkSession.builder.master("local[2,2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .getOrCreate()
)
n, shards = 400, 4
df = spark.range(n).select(
    F.col("id").alias("doc_id"),
    (F.col("id") % 7 + 1).cast("long").alias("n_tokens"),
)

def flaky_once(batches):
    import os as _os
    if not _os.path.exists(marker):
        open(marker, "w").close()
        raise RuntimeError("planted flaky-once task failure")
    yield from batches

src = df.repartition(2).mapInPandas(
    flaky_once, schema="doc_id long, n_tokens long"
)
rows = export_shards_on_materialize(
    src, "doc_id", "n_tokens", shards, path
).collect()
assert os.path.exists(marker), "the planted failure never fired"
assert sum(r.n_docs for r in rows) == n, rows
for sid in range(shards):
    d = os.path.join(path, f"shard_id={{sid}}")
    visible = [f for f in os.listdir(d) if not f.startswith(".")]
    assert visible == ["part-0.parquet"], (sid, visible)
assert spark.read.parquet(path).count() == n
spark.stop()
print("RETRY-SURVIVED-OK")
"""
    env = dict(os.environ)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=repo,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "RETRY-SURVIVED-OK" in proc.stdout
    assert os.path.exists(marker), "the flaky task never ran"


# ------------------------------------------------------------ connected components


def _union_find_labels(edges) -> dict:
    """Reference labeling: node → minimum node id of its component, by
    union-find over ``edges`` (self-loop-only nodes included)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    return {n: min(ns) for ns in comp.values() for n in ns}


def _scattered_graph(seed: int) -> list:
    """A random graph plus a 13-node chain; spread over 13 partitions, its
    components routinely straddle partition boundaries (the chain edge by
    edge), so the partition-local contraction's stars must re-merge in the
    global rounds."""
    import random

    rng = random.Random(1000 + seed)
    edges = [(rng.randrange(80), rng.randrange(80)) for _ in range(70)]
    return edges + [(200 + i, 201 + i) for i in range(12)]


def test_connected_components_matches_union_find(spark):
    """Random graphs vs a Python union-find reference: same components,
    min-id labeling, including chain graphs (worst-case diameter) and
    isolated pairs — both in the default layout and scattered over 13
    partitions, where the partition-local contraction sees fragments of
    every component."""
    import random

    from steam_data_engineer_project_spark.operators.components import (
        connected_components,
    )

    cases = []
    for seed in range(3):
        rng = random.Random(seed)
        edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(50)]
        edges += [(100 + i, 101 + i) for i in range(8)]  # a 9-node chain
        cases.append((f"seed={seed}", edges, None))
        cases.append((f"scattered seed={seed}", _scattered_graph(seed), 13))
    for label, edges, parts in cases:
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        if parts:
            df = df.repartition(parts)
        got = {
            r.node: r.component
            for r in connected_components(df).collect()
        }
        want = _union_find_labels(edges)
        # self-loops may leave a node absent from `got` if it had no real edge
        want = {n: c for n, c in want.items() if n in got}
        assert got == want, label


def test_connected_components_runs_no_driver_action(spark, monkeypatch):
    """Every count and convergence flag is observed in the checkpoint job
    that materializes its frame, so the labeling runs no count, collect,
    first or take. The classic DataFrame class is patched because the
    classic session dispatches to it (patching ``pyspark.sql.DataFrame``
    changes nothing there). The scattered graph needs several label
    rounds: its chain lands about one edge per partition."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from steam_data_engineer_project_spark.operators.components import (
        connected_components,
    )

    edges = _scattered_graph(0)
    df = spark.createDataFrame(edges, ["id_a", "id_b"]).repartition(13)

    def refuse(self, *args, **kwargs):
        raise AssertionError("driver action inside connected_components")

    with monkeypatch.context() as m:
        for action in ("count", "collect", "first", "take"):
            m.setattr(ClassicDataFrame, action, refuse)
        out = connected_components(df)
    got = {r.node: r.component for r in out.collect()}
    want = _union_find_labels(edges)
    assert got == {n: c for n, c in want.items() if n in got}


def test_observed_count_survives_injected_task_retry(tmp_path):
    """A REAL task retry inside the observed stage leaves an observed row
    count exact: in a subprocess running ``local[2,2]`` (maxFailures=2) a
    flaky-once Python task hands its first Arrow batch up through the
    observation, then fails; the eager ``localCheckpoint`` retries it and
    the count equals the true row count (a failed attempt's partial
    metrics are dropped, not merged)."""
    import os
    import subprocess
    import sys

    marker = str(tmp_path / "flaky_once_fired")
    script = f"""
import os
from pyspark.sql import SparkSession
from steam_data_engineer_project_spark.monitoring import observed

marker = {marker!r}
spark = (
    SparkSession.builder.master("local[2,2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    .getOrCreate()
)
n = 400

def flaky_once(batches):
    import os as _os
    for i, batch in enumerate(batches):
        if i == 1 and not _os.path.exists(marker):
            open(marker, "w").close()
            raise RuntimeError("planted flaky-once task failure")
        yield batch

src = spark.range(n).repartition(2).mapInPandas(flaky_once, schema="id long")
out, obs = observed(src, "retry_probe_rows")
out = out.localCheckpoint()
assert os.path.exists(marker), "the planted failure never fired"
assert obs.get["rows"] == n, obs.get
spark.stop()
print("OBSERVED-RETRY-OK")
"""
    env = dict(os.environ)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=repo,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "OBSERVED-RETRY-OK" in proc.stdout
    assert os.path.exists(marker), "the flaky task never ran"


def test_connected_components_star_deep_and_random_graphs(spark):
    """Alternating large-star/small-star contraction: identical labeling to
    union-find (and to min-label where min-label can afford the rounds) on
    random graphs, and CORRECT on a deep path graph whose diameter (300)
    dwarfs min-label's default max_iter=20 — the case the star variant
    exists for, converging in O(log n) rounds."""
    import random

    from steam_data_engineer_project_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    # deep path: 301 nodes in one chain, diameter 300 ≫ 20.
    chain = [(i, i + 1) for i in range(300)]
    df = spark.createDataFrame(chain, ["id_a", "id_b"])
    got = {
        r.node: r.component for r in connected_components_star(df).collect()
    }
    assert got == {i: 0 for i in range(301)}
    # min-label alone would truncate at max_iter=20 here; its star fallback
    # must finish the contraction and agree exactly.
    hybrid = {
        r.node: r.component for r in connected_components(df).collect()
    }
    assert hybrid == got
    # a tiny budget exercises the fallback from a barely-contracted state
    hybrid2 = {
        r.node: r.component
        for r in connected_components(df, max_iter=2).collect()
    }
    assert hybrid2 == got

    for seed in range(3):
        rng = random.Random(1000 + seed)
        edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(50)]
        edges += [(200 + i, 201 + i) for i in range(8)]
        e = spark.createDataFrame(
            [(a, b) for a, b in edges if a != b], ["id_a", "id_b"]
        )
        star = {
            r.node: r.component
            for r in connected_components_star(e).collect()
        }
        minl = {
            r.node: r.component
            for r in connected_components(e).collect()
        }
        assert star == minl, f"seed={seed}"

    # type-agnostic: string ids label by lexicographic minimum, same as the
    # min-label variant.
    se = spark.createDataFrame(
        [("d", "b"), ("b", "a"), ("x", "y")], ["id_a", "id_b"]
    )
    sgot = sorted(
        (r.node, r.component)
        for r in connected_components_star(se).collect()
    )
    assert sgot == [("a", "a"), ("b", "a"), ("d", "a"), ("x", "x"), ("y", "x")]


def test_near_dup_pairs_to_canonical_docs(spark):
    """End-to-end dedup story: n-gram Jaccard pairs → components →
    canonical doc per cluster; components never straddle a
    deterministic_split (the leakage guarantee the split exists for)."""
    from steam_data_engineer_project_spark.operators.components import (
        connected_components,
    )
    from steam_data_engineer_project_spark.operators.sampling import (
        deterministic_split,
    )
    from steam_data_engineer_project_spark.queries import QUERIES

    pairs = QUERIES["dedup_ngram_jaccard_docs"].spark(
        spark, "/root/testdata/sf0.01"
    ).filter(F.col("jaccard") >= 0.5)
    comps = connected_components(pairs, "id_a", "id_b").persist()
    assert comps.count() > 0
    # one canonical doc per cluster: the node that labels its component
    canon = comps.filter(F.col("node") == F.col("component"))
    assert canon.count() < comps.count()  # real clustering happened

    # route every member by its COMPONENT key: the whole cluster lands in
    # one split, so near-dups can't leak across train/test
    routed = deterministic_split(comps, "component", {"train": 0.8, "test": 0.2})
    splits_per_comp = routed.groupBy("component").agg(
        F.countDistinct("split").alias("n")
    )
    assert splits_per_comp.filter(F.col("n") > 1).count() == 0
    comps.unpersist()


# ------------------------------------------------------------------ multimodal


def test_resize_images_gates_and_resamples_deterministically(spark):
    """resize_images: only image payloads cross to Python (wav rows gated
    out JVM-side), output dims are the target, payload = header + strided
    resample — deterministic across runs and partitionings."""
    from steam_data_engineer_project_spark.multimodal.binary import (
        attach_binary_payloads,
        resize_images,
    )

    docs = spark.createDataFrame(
        [(i, "x" * (40 + i)) for i in range(12)], ["doc_id", "body"]
    )
    payloads = attach_binary_payloads(docs, "body", "doc_id")
    out = resize_images(payloads, 16, 16)
    rows = {r.doc_id: r for r in out.collect()}
    # id % 3 == 2 → wav → gated out; 0/1 → png/jpeg → present
    assert set(rows) == {i for i in range(12) if i % 3 != 2}
    assert all(r.width == 16 and r.height == 16 for r in rows.values())
    again = {
        r.doc_id: bytes(r.payload)
        for r in resize_images(payloads.repartition(5), 16, 16).collect()
    }
    assert {k: bytes(v.payload) for k, v in rows.items()} == again
    # resampled body has the target-proportional length (+ magic header)
    n_out = (16 * 16) // 64
    png = rows[0]
    assert len(bytes(png.payload)) == 8 + n_out  # png header is 8 bytes


def test_sample_frames_fans_out_wav_payloads(spark):
    """sample_frames: 1→N fan-out of every-Nth fixed-width frame for wav
    rows only, with exact frame indices and contents."""
    from steam_data_engineer_project_spark.multimodal.binary import (
        MAGIC,
        sample_frames,
    )

    body = bytes(range(40))  # 10 frames of 4 bytes
    rows = [
        (1, bytearray(MAGIC["wav"] + body)),
        (2, bytearray(MAGIC["png"] + body)),  # image: must be gated out
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = sorted(
        (r.doc_id, r.frame_idx, bytes(r.frame))
        for r in sample_frames(df, every_n=3).collect()
    )
    assert got == [
        (1, 0, body[0:4]),
        (1, 3, body[12:16]),
        (1, 6, body[24:28]),
        (1, 9, body[36:40]),
    ]


def test_repetition_stats_pins_known_doc(spark):
    """repetition_stats: hand-computed duplicate-line and top-bigram
    fractions, plus the no-bigram short doc and empty-doc guards."""
    from steam_data_engineer_project_spark.operators.textstats import (
        repetition_stats,
    )

    rows = [
        # 4 lines, "a b" appears twice as a line (1 dup of 3 chars / 22);
        # flattened tokens: a b b c d a b a b c d a b -> 12 bigrams,
        # "a b" at positions 1,6,8,12 -> top count 4.
        (1, "a b\nb c d\na b\na b c d a b"),
        (2, "solo"),  # one token: no bigrams, no dup lines
        (3, ""),  # empty: all-zero row, no division blowup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_stats(df, "text", "doc_id").collect()}

    r1 = got[1]
    assert (r1.n_lines, r1.n_dup_lines) == (4, 1)
    assert r1.dup_line_frac == 0.25
    # chars: lines [3,5,3,11] total 22; distinct drops one "a b" -> 3 dup chars
    assert r1.dup_line_char_frac == round(3 / 22, 6)
    assert (r1.n_bigrams, r1.top_bigram_count) == (12, 4)
    assert r1.top_bigram_frac == round(4 / 12, 6)

    r2 = got[2]
    assert (r2.n_lines, r2.n_dup_lines, r2.n_bigrams, r2.top_bigram_frac) == (
        1, 0, 0, 0.0,
    )

    r3 = got[3]
    assert (r3.n_lines, r3.n_dup_lines, r3.dup_line_frac, r3.n_bigrams) == (
        0, 0, 0.0, 0,
    )


def test_pii_stats_detects_and_redacts(spark):
    """pii_stats: independent counts on the original text, sequential
    redaction, dotted quads not eaten by the phone pattern, clean docs
    report has_pii=false."""
    from steam_data_engineer_project_spark.operators.pii import pii_stats

    rows = [
        (1, "mail a.b+c@x-corp.io and b@y.org call +1 555 0199 00 via 10.0.0.1"),
        (2, "all clean here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in pii_stats(df, "text", "doc_id").collect()}

    r1 = got[1]
    assert (r1.n_email, r1.n_ipv4, r1.n_phone) == (2, 1, 1)
    assert r1.has_pii
    assert r1.redacted == "mail <EMAIL> and <EMAIL> call <PHONE> via <IP>"

    r2 = got[2]
    assert (r2.n_email, r2.n_ipv4, r2.n_phone, r2.has_pii) == (0, 0, 0, False)
    assert r2.redacted == "all clean here"


def test_corpus_line_dedup_drops_boilerplate_keeps_order(spark):
    """corpus_line_dedup: cross-doc duplicate lines dropped everywhere,
    surviving lines keep original order, all-boilerplate docs stay as empty
    rows, max_freq raises the drop threshold."""
    from steam_data_engineer_project_spark.operators.dedup import (
        corpus_line_dedup,
    )

    rows = [
        (1, "banner\nunique one\nfooter"),
        (2, "banner\nunique two\nfooter"),
        (3, "banner\nfooter"),  # nothing survives
        (4, "z last\na first\nbanner"),  # order: original positions, not sort
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in corpus_line_dedup(df, "text", "doc_id").collect()}

    assert got[1].clean_text == "unique one" and (got[1].n_kept, got[1].n_dropped) == (1, 2)
    assert got[2].clean_text == "unique two"
    assert got[3].clean_text == "" and (got[3].n_kept, got[3].n_dropped) == (0, 2)
    assert got[4].clean_text == "z last\na first"

    # max_freq=3: banner (4x) still dropped, footer (2x) now survives
    relaxed = {
        r.doc_id: r
        for r in corpus_line_dedup(df, "text", "doc_id", max_freq=3).collect()
    }
    assert relaxed[3].clean_text == "footer"


def test_quantize_int8_bounds_and_scale_cancellation(spark):
    """quantize_int8: values land in [-127, 127] with max|x| -> ±127, and
    a uniformly scaled vector quantizes identically (scale cancels)."""
    from steam_data_engineer_project_spark.operators.similarity import (
        quantize_int8,
    )

    rows = [
        (1, [2.0, -1.0, 0.5, 0.0]),
        (2, [200.0, -100.0, 50.0, 0.0]),  # 100x scaled copy of row 1
    ]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    got = {r.id: r.q for r in df.select("id", quantize_int8(F.col("vec")).alias("q")).collect()}
    assert got[1] == [127, -63, 32, 0]  # floor(-63.5+0.5)=-63, floor(31.75+0.5)=32
    assert got[1] == got[2]


def test_cross_corpus_contamination_flags_planted_overlap(spark):
    """A train doc quoting an eval doc's phrase surfaces with the right
    shared-shingle count; unrelated docs don't pair."""
    from steam_data_engineer_project_spark.operators.dedup import (
        cross_corpus_contamination,
    )

    # 'alpha beta gamma delta epsilon' = 3 shingles at n=3
    phrase = "alpha beta gamma delta epsilon"
    train = spark.createDataFrame(
        [
            (10, f"totally original words then {phrase}"),
            (11, "nothing in common here at all"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(90, f"benchmark question {phrase}")], "doc_id long, text string"
    )
    got = cross_corpus_contamination(
        train, ev, "text", "doc_id", n=3, min_shared=2
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.train_id, r.eval_id) == (10, 90)
    assert r.shared_shingles >= 3
    assert 0 < r.jaccard <= 1


def test_bpe_token_stats_known_strings(spark):
    """Contractions split, punctuation runs group, whitespace excluded."""
    from steam_data_engineer_project_spark.operators.textstats import (
        bpe_token_stats,
    )

    rows = [
        (1, "don't stop"),          # don | 't | ' stop' -> 3
        (2, "hello,  world!!"),     # hello | , | ' world' | !! -> 4
        (3, "a1b2"),                # a | 1 | b | 2 -> 4
        (4, ""),                    # -> 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_bpe_tokens, r.n_bpe_distinct) for r in bpe_token_stats(df, "text", "doc_id").collect()}
    assert got[1] == (3, 3)
    assert got[2] == (4, 4)
    assert got[3] == (4, 4)
    assert got[4] == (0, 0)


def test_connected_components_string_ids(spark):
    """Node ids need not be numeric (e.g. md5 fingerprints): convergence
    detection must be type-agnostic."""
    from steam_data_engineer_project_spark.operators.components import (
        connected_components,
    )

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y")],
        "id_a string, id_b string",
    )
    got = sorted((r.node, r.component) for r in connected_components(e).collect())
    assert got == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"), ("e", "a"),
        ("x", "x"), ("y", "x"),
    ]


def test_rest_fetch_parenthesized_types_and_all_failed_batch(spark):
    """decimal(p,s) in the result schema must not split at its internal
    comma, and a batch where every fetch fails still yields null-payload
    rows in the declared schema."""
    from steam_data_engineer_project_spark.sources.rest import rest_fetch

    ids = spark.range(3).withColumnRenamed("id", "appid")

    def boom(_appid):
        raise RuntimeError("api down")

    out = rest_fetch(
        ids,
        "appid",
        boom,
        "appid bigint, price decimal(10,2), tags array<string>",
        max_retries=1,
        backoff_base_sec=0.0,
    )
    rows = out.collect()
    assert out.columns == ["appid", "price", "tags"]
    assert len(rows) == 3
    assert all(r.price is None and r.tags is None for r in rows)


def test_deterministic_split_null_keys_land_together(spark):
    """NULL keys are one key: deterministically in ONE split, same under
    repartitioning."""
    from steam_data_engineer_project_spark.operators.sampling import (
        deterministic_split,
    )

    df = spark.createDataFrame(
        [(None,), (None,), ("k1",), ("k2",)], "key string"
    )
    fr = {"train": 0.5, "test": 0.5}
    a = {(r.key, r.split) for r in deterministic_split(df, "key", fr).collect()}
    b = {
        (r.key, r.split)
        for r in deterministic_split(df.repartition(7), "key", fr).collect()
    }
    assert a == b
    null_splits = {s for k, s in a if k is None}
    assert len(null_splits) == 1  # all NULLs in exactly one split


def test_hash_bucket_no_string_collides_with_null_population(spark):
    """The (is-null, value)-pair hash: NULLs bucket as md5('n:'); every
    non-null key hashes 'v:'+value, so no string — including ones crafted
    to look like a sentinel — can be silently merged into the NULL bucket's
    hash input. (Bucket-value collisions mod 10k remain possible for any
    hash; what's excluded is input-level aliasing.)"""
    import hashlib

    from pyspark.sql import functions as F

    from steam_data_engineer_project_spark.operators.sampling import _hash_bucket

    probes = [None, "n:", "", "v:", "__hash_bucket_null__"]
    df = spark.createDataFrame([(p,) for p in probes], "key string")
    got = {
        r.key: r.b
        for r in df.select("key", _hash_bucket(F.col("key")).alias("b")).collect()
    }
    def md5b(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % 10_000

    assert got[None] == md5b("n:")
    for p in probes[1:]:
        assert got[p] == md5b("v:" + p)  # value-domain, never the null input


def test_connected_components_fallback_with_interior_local_min(spark):
    """Regression: the star fallback must contract the ORIGINAL edges mapped
    through the labels, not the node→label forest alone. A path whose ids
    put a local minimum in the interior leaves min-label with ≥2 label
    roots per component after a truncated loop; the old fallback never
    connected those trees and returned fractured components."""
    import random

    from steam_data_engineer_project_spark.operators.components import (
        connected_components,
    )

    ids = [5, 6, 7, 1, 8, 9, 10, 11, 0]
    df = spark.createDataFrame(
        list(zip(ids, ids[1:])), ["id_a", "id_b"]
    )
    got = {
        r.node: r.component
        for r in connected_components(df, max_iter=2).collect()
    }
    assert got == {i: 0 for i in ids}, got

    # generalization: random permutations of a deep path — many interior
    # local minima, diameter ≫ max_iter — must still label all-min.
    for seed in range(3):
        rng = random.Random(7000 + seed)
        perm = list(range(120))
        rng.shuffle(perm)
        e = spark.createDataFrame(
            list(zip(perm, perm[1:])), ["id_a", "id_b"]
        )
        got = {
            r.node: r.component
            for r in connected_components(e, max_iter=3).collect()
        }
        assert got == {i: 0 for i in range(120)}, f"seed={seed}"


def test_salted_aggregate_with_nested_map_column(spark):
    """Regression: maps nested in structs/arrays must be excluded from the
    salt hash (Spark forbids maps at ANY depth in hash inputs), not just
    top-level map columns."""
    from steam_data_engineer_project_spark.operators.skew import (
        salted_aggregate,
    )

    df = spark.createDataFrame(
        [("k1", 1, {"a": 1}), ("k1", 2, {"b": 2}), ("k2", 3, {"c": 3})],
        "k string, v long, m map<string,long>",
    ).selectExpr("k", "v", "struct(m) AS s", "array(m) AS arr")
    out = {r.k: r.v for r in salted_aggregate(df, ["k"], sums=["v"]).collect()}
    assert out == {"k1": 3, "k2": 3}


def test_token_budget_cap_prefix_and_partition_invariance(spark):
    """The admitted set per group is the exact hash-order prefix whose
    cumsum stays within budget, every admitted row carries its running
    total, and the decision is identical under any input partitioning."""
    from steam_data_engineer_project_spark.operators.sampling import (
        token_budget_cap,
    )

    rows = [(f"d{i}", "en" if i % 3 else "fr", 10 + i % 7) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id string, lang string, n_tokens long")
    got = token_budget_cap(df, "lang", "doc_id", "n_tokens", budget=100)
    out = got.collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, admitted in by_lang.items():
        assert max(r.cum_tokens for r in admitted) <= 100
    # exactness: every admitted group's token sum equals its max cum_tokens
    for lang, admitted in by_lang.items():
        assert sum(r.n_tokens for r in admitted) == max(
            r.cum_tokens for r in admitted
        )
    # prefix property: adding ANY excluded row of the group would exceed
    # budget only if it hashes after the cut — verified indirectly by
    # partition invariance: the decision must be a pure row function.
    got2 = token_budget_cap(
        df.repartition(7, "doc_id"), "lang", "doc_id", "n_tokens", budget=100
    )
    assert sorted((r.doc_id, r.cum_tokens) for r in got2.collect()) == sorted(
        (r.doc_id, r.cum_tokens) for r in out
    )


def test_token_budget_cap_oversized_first_row_drops_group(spark):
    """A group whose hash-first row alone exceeds the budget admits nothing
    — the cumsum filter has no partial-row semantics."""
    from steam_data_engineer_project_spark.operators.sampling import (
        token_budget_cap,
    )

    df = spark.createDataFrame(
        [("a", "g", 500), ("b", "g", 600)], "doc_id string, g string, n long"
    )
    assert token_budget_cap(df, "g", "doc_id", "n", budget=100).count() == 0


def test_bm25_scores_ranking_and_df0_guard(spark):
    """More occurrences of a rarer term ⇒ strictly higher score; documents
    with zero query terms are absent; a term no document contains (df=0)
    changes nothing (the +0.5 smoothing guards the idf)."""
    from steam_data_engineer_project_spark.operators.textstats import (
        bm25_scores,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark runs fast on clusters today ok fine"),
            (2, "spark runs here with many other words padding the doc"),
            (3, "nothing relevant in this document at all whatsoever here"),
            (4, "customer data joined with spark for the report pipeline"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in bm25_scores(docs, "text", "doc_id", ["spark", "customer"]).collect()
    }
    assert set(got) == {1, 2, 4}  # doc 3 matches nothing
    assert got[1].score_micro > got[2].score_micro  # tf 3 beats tf 1, same length
    assert got[4].n_matched_terms == 2 and got[1].n_matched_terms == 1
    # an absent term leaves scores untouched
    with_ghost = {
        r.doc_id: r.score_micro
        for r in bm25_scores(
            docs, "text", "doc_id", ["spark", "customer", "zzznope"]
        ).collect()
    }
    assert with_ghost == {d: r.score_micro for d, r in got.items()}


def test_incremental_dedup_verdicts_three_way(spark):
    """Exact duplicate, near duplicate (shared phrase), and novel incoming
    docs each get the right verdict; the novel doc reports 0 matches with
    NULL stats (the 'new' path is a real row, not an absence)."""
    from steam_data_engineer_project_spark.operators.dedup import (
        incremental_dedup_verdicts,
    )

    phrase = "alpha beta gamma delta epsilon zeta"
    corpus = spark.createDataFrame(
        [
            (1, "the existing corpus document about databases and storage"),
            (2, f"another corpus doc quoting {phrase} in the middle part"),
        ],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (10, "the existing corpus document about databases and storage"),
            (11, f"fresh crawl result but it contains {phrase} verbatim"),
            (12, "completely novel words never seen before anywhere else"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in incremental_dedup_verdicts(
            corpus, incoming, "text", "doc_id", n=3, min_shared=2
        ).collect()
    }
    assert got[10].verdict == "exact_dup"
    assert got[11].verdict == "near_dup" and got[11].n_corpus_matches >= 1
    assert got[12].verdict == "new"
    assert got[12].n_corpus_matches == 0
    assert got[12].max_shared is None and got[12].max_jaccard is None


def test_kmeans_int8_separates_planted_clusters(spark):
    """Two well-separated planted blobs end in two clusters regardless of
    input partitioning (integer arithmetic ⇒ order-independent), and every
    point's dist is the exact squared distance to its centroid mean."""
    from steam_data_engineer_project_spark.operators.clustering import (
        kmeans_int8,
    )

    # ids 0,1 seed the two centroids; blob A hugs +8, blob B hugs -8.
    rows = []
    for i in range(20):
        base = 8.0 if i % 2 == 0 else -8.0
        rows.append((i, [base + 0.25 * (i % 3)] * 4))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r for r in kmeans_int8(df, "embedding", "vec_id", k=2, n_iter=3).collect()}
    a = {i for i in got if got[i].cluster_id == got[0].cluster_id}
    b = set(got) - a
    assert a == set(range(0, 20, 2)) and b == set(range(1, 20, 2))
    # partition invariance
    got2 = {
        r.vec_id: (r.cluster_id, r.dist)
        for r in kmeans_int8(
            df.repartition(5, "vec_id"), "embedding", "vec_id", k=2, n_iter=3
        ).collect()
    }
    assert got2 == {i: (r.cluster_id, r.dist) for i, r in got.items()}


def test_kmeans_int8_keeps_emptied_centroid_state(spark):
    """A seed whose cluster empties keeps its previous (s, c) state — the
    deterministic rule the oracle mirrors — rather than vanishing or
    crashing. Per-vector int8 quantization is scale-invariant, so seed 1
    ([0.2]×4) quantizes IDENTICALLY to seed 0 ([10.0]×4): every tied point
    breaks to the smaller cid, cluster 1 receives zero members (even its
    own seed) and must persist as empty state."""
    from steam_data_engineer_project_spark.operators.clustering import (
        kmeans_int8,
    )

    rows = [(0, [10.0] * 4), (1, [0.2] * 4), (2, [-10.0] * 4)]
    rows += [(i, [10.0 + 0.1 * (i % 2)] * 4) for i in range(3, 12)]
    rows += [(i, [-10.0 - 0.1 * (i % 2)] * 4) for i in range(12, 21)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = kmeans_int8(df, "embedding", "vec_id", k=3, n_iter=3).collect()
    by_cluster = {}
    for r in got:
        by_cluster.setdefault(r.cluster_id, set()).add(r.vec_id)
    # every row assigned exactly once; constant vectors all collapse to
    # ±[127]⁴, so the split is sign-of-direction with ties → cluster 0
    assert sum(len(v) for v in by_cluster.values()) == len(rows)
    assert by_cluster[0] == {0, 1, *range(3, 12)}
    assert by_cluster[2] == {2, *range(12, 21)}
    assert 1 not in by_cluster  # emptied, state kept, no crash


def test_semantic_dedup_pairs_finds_twins_not_strangers(spark):
    """Near-identical vectors pair above threshold with cos_micro ≈ 10⁶;
    orthogonal vectors never pair even when co-clustered."""
    from steam_data_engineer_project_spark.operators.clustering import (
        semantic_dedup_pairs,
    )

    rows = [
        (0, [5.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 5.0, 0.0, 0.0]),
        (10, [3.0, 3.0, 3.0, 3.0]),
        (11, [3.0, 3.0, 3.0, 3.01]),  # twin of 10
        (12, [0.0, 0.0, 0.0, 4.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = semantic_dedup_pairs(
        df, "embedding", "vec_id", k=2, n_iter=2, threshold=0.95
    ).collect()
    pairs = {(r.id_a, r.id_b): r.cos_micro for r in got}
    assert (10, 11) in pairs
    assert pairs[(10, 11)] >= 990_000
    assert all({a, b} == {10, 11} for a, b in pairs)


def test_temperature_allocations_flatten_toward_small_groups(spark):
    """α=0.5 budgets: the largest group is anchored at max_budget and a
    group holding 1/4 of the max's tokens gets √(1/4) = half (not a
    quarter) of the budget — flattened, as a multilingual mix wants."""
    from steam_data_engineer_project_spark.operators.sampling import (
        temperature_allocations,
    )

    rows = [("big", 100)] * 16 + [("small", 100)] * 4
    df = spark.createDataFrame(
        [(g, i, t) for i, (g, t) in enumerate(rows)],
        "lang string, doc_id long, n_tokens long",
    )
    got = {
        r.lang: r.token_budget
        for r in temperature_allocations(
            df, "lang", "n_tokens", max_budget=8000
        ).collect()
    }
    assert got == {"big": 8000, "small": 4000}


def test_temperature_resample_respects_per_group_budgets(spark):
    """Each admitted group's token total stays within its flattened budget,
    the selection is a pure row function (partition-invariant), and the
    small group keeps proportionally MORE of its rows than the big one."""
    from steam_data_engineer_project_spark.operators.sampling import (
        temperature_resample,
    )

    rows = [("big", i, 50) for i in range(80)] + [
        ("small", 1000 + i, 50) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "lang string, doc_id long, n_tokens long")
    got = temperature_resample(
        df, "lang", "doc_id", "n_tokens", max_budget=1000
    ).collect()
    by = {}
    for r in got:
        by.setdefault(r.lang, []).append(r)
    # budgets: big 1000 (20 rows of 50), small floor(1000*sqrt(0.25))=500 (10 rows)
    assert len(by["big"]) == 20 and len(by["small"]) == 10
    assert max(r.cum_tokens for r in by["big"]) == 1000
    assert max(r.cum_tokens for r in by["small"]) == 500
    assert len(by["small"]) / 20 > len(by["big"]) / 80  # flattening kept more of the tail
    got2 = temperature_resample(
        df.repartition(7, "doc_id"), "lang", "doc_id", "n_tokens", max_budget=1000
    ).collect()
    assert sorted((r.lang, r.doc_id) for r in got2) == sorted(
        (r.lang, r.doc_id) for r in got
    )


def test_group_quantiles_exact_disc_semantics(spark):
    """PERCENTILE_DISC at ⌈q·n⌉: on 1..10 in one group, p50→5, p90→9,
    p99→10 (actual corpus values, never interpolated); ties in the metric
    resolve by key so the reported key is deterministic."""
    from steam_data_engineer_project_spark.operators.textstats import (
        group_quantiles,
    )

    df = spark.createDataFrame(
        [("g", i, i) for i in range(1, 11)], "g string, k long, v long"
    )
    got = {
        r.q_ppm: (r.q_value, r.q_key)
        for r in group_quantiles(df, "g", "v", "k", [0.5, 0.9, 0.99]).collect()
    }
    assert got == {500000: (5, 5), 900000: (9, 9), 990000: (10, 10)}
    tied = spark.createDataFrame(
        [("g", i, 7) for i in range(1, 5)], "g string, k long, v long"
    )
    got2 = {
        r.q_ppm: (r.q_value, r.q_key)
        for r in group_quantiles(tied, "g", "v", "k", [0.5]).collect()
    }
    assert got2 == {500000: (7, 2)}  # rank 2 of 4; order (v, k) ⇒ key 2


def test_kmv_distinct_exact_below_k_and_estimates_above(spark):
    """Groups under the sketch size are exact; larger groups estimate
    within the theoretical error band (SE ≈ 1/√(k−2)); the result is a
    pure function of the value set (partition-invariant)."""
    from steam_data_engineer_project_spark.operators.sketches import (
        kmv_distinct_estimate,
    )

    rows = [("small", f"v{i % 10}") for i in range(100)]
    rows += [("big", f"w{i}") for i in range(5000)]
    df = spark.createDataFrame(rows, "g string, v string")
    got = {r.g: r for r in kmv_distinct_estimate(df, "g", "v", k=64).collect()}
    assert got["small"].est_distinct == 10  # exact path
    assert got["small"].sketch_size == 10
    assert got["big"].sketch_size == 64
    assert abs(got["big"].est_distinct - 5000) / 5000 < 0.5  # 4·SE guard
    got2 = {
        r.g: r.est_distinct
        for r in kmv_distinct_estimate(
            df.repartition(13, "v"), "g", "v", k=64
        ).collect()
    }
    assert got2 == {g: r.est_distinct for g, r in got.items()}


def test_kmv_distinct_ignores_nulls_and_duplicates(spark):
    """NULLs drop (COUNT(DISTINCT) semantics) and duplicate values never
    inflate the sketch."""
    from steam_data_engineer_project_spark.operators.sketches import (
        kmv_distinct_estimate,
    )

    rows = [("g", v) for v in (["a"] * 50 + ["b"] * 50 + [None] * 20)]
    df = spark.createDataFrame(rows, "g string, v string")
    got = kmv_distinct_estimate(df, "g", "v", k=8).collect()
    assert len(got) == 1 and got[0].est_distinct == 2


def test_bm25_property_matches_python_reference(spark):
    """Property test: for ANY tiny corpus and query set, bm25_scores'
    integer micro-unit scores equal an independent pure-Python replay of
    the documented formula (rational-core idf, floor-to-micro per term) —
    the engine expression tree computes exactly what the docstring says."""
    import math

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from steam_data_engineer_project_spark.operators.textstats import (
        bm25_scores,
    )

    words = st.sampled_from(["apple", "bear", "cat", "dog", "elk"])

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.lists(words, min_size=1, max_size=8), min_size=1, max_size=5
        ),
        st.lists(words, min_size=1, max_size=2, unique=True),
    )
    def check(docs, terms):
        rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_matched_terms, r.score_micro)
            for r in bm25_scores(df, "text", "doc_id", terms).collect()
        }
        n_docs = len(docs)
        total = sum(len(ws) for ws in docs)
        dfreq = {t: sum(1 for ws in docs if t in ws) for t in terms}
        want = {}
        for i, ws in enumerate(docs):
            matched, score = 0, 0
            for t in terms:
                tf = ws.count(t)
                if tf == 0:
                    continue
                matched += 1
                idf = (n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5)
                denom = tf + 1.2 * (0.25 + 0.75 * (len(ws) / (total / n_docs)))
                score += math.floor(idf * (tf * 2.2) / denom * 1e6 + 0.5)
            if matched:
                want[i] = (matched, score)
        assert got == want, (docs, terms, got, want)

    check()


def test_token_budget_cap_property_prefix_exactness(spark):
    """Property test: for ANY token multiset and budget, the admitted rows
    are EXACTLY the maximal hash-order prefix within budget — verified
    against an independent Python replay of the md5 ordering."""
    import hashlib

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from steam_data_engineer_project_spark.operators.sampling import (
        token_budget_cap,
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=30),
                st.integers(min_value=1, max_value=50),
            ),
            min_size=1,
            max_size=12,
            unique_by=lambda t: t[0],
        ),
        st.integers(min_value=1, max_value=300),
    )
    def check(rows, budget):
        df = spark.createDataFrame(
            [(f"d{k}", "g", n) for k, n in rows], "k string, g string, n long"
        )
        got = sorted(
            (r.k, r.cum_tokens)
            for r in token_budget_cap(df, "g", "k", "n", budget).collect()
        )
        hkey = lambda k: (
            int(hashlib.md5(f"v:{k}".encode()).hexdigest()[:8], 16)
            % (1 << 31),
            k,
        )
        ordered = sorted(((f"d{k}", n) for k, n in rows), key=lambda t: hkey(t[0]))
        want, cum = [], 0
        for k, n in ordered:
            cum += n
            if cum > budget:
                break
            want.append((k, cum))
        assert got == sorted(want), (rows, budget, got, want)

    check()


def test_incremental_dedup_exact_tier_uses_normalized_text(spark):
    """A whitespace/case variant of a corpus doc is an exact_dup — the
    exact tier must share exact_dedup's canonical form, or a re-crawled
    page with trivial formatting drift would be admitted as 'new'."""
    from steam_data_engineer_project_spark.operators.dedup import (
        incremental_dedup_verdicts,
    )

    corpus = spark.createDataFrame(
        [(1, "Hello  World From The Corpus")], "doc_id long, text string"
    )
    incoming = spark.createDataFrame(
        [(10, "hello world from the corpus")], "doc_id long, text string"
    )
    got = incremental_dedup_verdicts(
        corpus, incoming, "text", "doc_id", n=3, min_shared=2
    ).collect()
    assert got[0].verdict == "exact_dup"


def test_semantic_dedup_cluster_cap_bounds_blocks_keeps_twins(spark):
    """max_cluster_size sub-splits a degenerate giant cluster: capped pairs
    are a subset of uncapped pairs, QUANTIZATION-IDENTICAL vectors always
    stay co-blocked (same content signature), and the pair space shrinks
    (distinct contents spread across the hash blocks)."""
    from steam_data_engineer_project_spark.operators.clustering import (
        semantic_dedup_pairs,
    )

    # one tight direction bundle = one giant cluster; ids 100/101 are
    # exact twins planted inside it
    rows = []
    for i in range(60):
        v = [5.0, 4.0 + 0.01 * (i % 7), 3.0, -2.0 + 0.01 * (i % 5)]
        rows.append((i, v))
    rows += [(100, [5.0, 4.0, 3.0, -2.0]), (101, [5.0, 4.0, 3.0, -2.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    uncapped = {
        (r.id_a, r.id_b)
        for r in semantic_dedup_pairs(
            df, "embedding", "vec_id", k=2, n_iter=2, threshold=0.99
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in semantic_dedup_pairs(
            df,
            "embedding",
            "vec_id",
            k=2,
            n_iter=2,
            threshold=0.99,
            max_cluster_size=20,
        ).collect()
    }
    assert capped <= uncapped
    # the identical group {0, 35, 100, 101} collapses to star pairs from
    # its min-id representative — every duplicate row is still flagged
    assert {(0, 35), (0, 100), (0, 101)} <= capped
    assert len(capped) < len(uncapped)  # the pair space actually shrank


def test_semantic_dedup_cap_bounds_identical_flood_linearly(spark):
    """The cap's own target scenario: a flood of IDENTICAL vectors in one
    cluster. A pure sub-split can't bound it (identical contents share any
    content key); the star-pair collapse makes it LINEAR — n copies emit
    exactly n−1 (representative, member) pairs at cos_micro = 10⁶."""
    from steam_data_engineer_project_spark.operators.clustering import (
        semantic_dedup_pairs,
    )

    n = 200
    rows = [(i, [3.0, -1.0, 2.0, 0.5]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = semantic_dedup_pairs(
        df, "embedding", "vec_id", k=1, n_iter=1, threshold=0.95,
        max_cluster_size=50,
    ).collect()
    assert len(got) == n - 1  # linear, NOT n(n-1)/2 = 19900
    assert all(r.id_a == 0 and r.cos_micro == 1_000_000 for r in got)
    assert {r.id_b for r in got} == set(range(1, n))


def test_train_partials_match_assignment_aggregation(spark):
    """Round-12 optimization guard: the fused Arrow training pass
    (_train_partials — assignment + per-task partial sums in one
    mapInArrow) must produce EXACTLY the per-cluster (Σqv, count) that
    aggregating _assign_to_centroids' per-row output yields — the two
    formulations the Lloyd loop swapped between. int64 partial sums are
    exact/associative, so any divergence is a real bug, not rounding."""
    from steam_data_engineer_project_spark.operators.clustering import (
        _assign_to_centroids,
        _train_partials,
        quantized_vectors,
    )

    rows = [
        (i, [((i * 29 + j * 13) % 11 - 5) * 0.5 for j in range(6)])
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qdf = quantized_vectors(df, "embedding", "vec_id")
    cents = sorted(
        (int(r[0]), [int(v) for v in r[1]], 1)
        for r in qdf.orderBy("vec_id").limit(5).collect()
    )
    dim = len(cents[0][1])

    assigned = _assign_to_centroids(qdf, "vec_id", cents)
    want = {
        int(r["cluster_id"]): (
            [int(r[f"s{i}"]) for i in range(dim)],
            int(r["c"]),
        )
        for r in assigned.groupBy("cluster_id")
        .agg(
            *[F.sum(F.col("qv")[i]).alias(f"s{i}") for i in range(dim)],
            F.count("*").alias("c"),
        )
        .collect()
    }
    # fold the per-task (cluster_id, c, s array) partials exactly the way
    # kmeans_int8's driver loop does (round 12: the JVM groupBy was
    # replaced by this bounded driver-side fold)
    got: dict = {}
    for r in _train_partials(qdf, "vec_id", cents).collect():
        cid, c, s = int(r[0]), int(r[1]), [int(v) for v in r[2]]
        if cid in got:
            ps, pc = got[cid]
            got[cid] = ([a + b for a, b in zip(ps, s)], pc + c)
        else:
            got[cid] = (s, c)
    assert got == want


def test_partials_reduced_distributed_when_collect_scales_with_tasks(
    spark, monkeypatch
):
    """Round-13 guard (round-12 verdict finding #1): with corpus-
    proportional k the raw partials collect is bounded only by n_tasks·k —
    once tasks hold fewer rows than k, partials stop reducing map-side and
    the raw collect approaches one row per input vector. Past
    _DRIVER_FOLD_MAX_PARTIAL_ROWS the training loop must reduce the
    partials to O(k) rows DISTRIBUTED before collecting (one narrow
    shuffle + Arrow fold), with a bit-identical fold result — and
    kmeans_int8 through the forced distributed path must emit exactly the
    raw-path assignments."""
    from steam_data_engineer_project_spark.operators import clustering as cl

    # k (24) > rows-per-task (160/8 = 20): the raw collect is task-scaled
    rows = [
        (i, [((i * 31 + j * 13) % 23 - 11) * 0.5 for j in range(6)])
        for i in range(160)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qdf = cl.quantized_vectors(df, "embedding", "vec_id").repartition(8)
    cents = sorted(
        (int(r[0]), [int(v) for v in r[1]], 1)
        for r in qdf.orderBy("vec_id").limit(24).collect()
    )
    dim = len(cents[0][1])

    raw = cl._train_partials(qdf, "vec_id", cents).collect()
    reduced = cl._reduce_partials(
        cl._train_partials(qdf, "vec_id", cents), dim
    ).collect()
    # O(k), not O(n_tasks·k): exactly one row per non-empty cluster
    n_clusters = len({int(r[0]) for r in raw})
    assert len(reduced) == n_clusters <= len(cents)
    assert len(raw) > len(reduced)  # the raw form really was task-scaled

    def fold(partial_rows):
        acc: dict = {}
        for r in partial_rows:
            cid, c, s = int(r[0]), int(r[1]), [int(v) for v in r[2]]
            if cid in acc:
                ps, pc = acc[cid]
                acc[cid] = ([a + b for a, b in zip(ps, s)], pc + c)
            else:
                acc[cid] = (s, c)
        return acc

    assert fold(reduced) == fold(raw)

    def assignments():
        return {
            (int(r[0]), int(r[1]))
            for r in cl.kmeans_int8(
                None, "embedding", "vec_id", k=24, n_iter=3, qdf=qdf
            )
            .select("vec_id", "cluster_id")
            .collect()
        }

    want = assignments()  # raw driver fold (bound not exceeded)
    monkeypatch.setattr(cl, "_DRIVER_FOLD_MAX_PARTIAL_ROWS", 1)
    assert assignments() == want  # forced distributed reduce: bit-identical


def test_pair_scores_arrow_matches_jvm_fold(spark):
    """Round-12 optimization guard: the Arrow pair-scoring pass
    (_pair_scores_arrow) must emit exactly the pairs and cos_micro values
    of the interpreted zip_with/aggregate fold it replaced — including
    the threshold boundary and the dot<=0 rejection path."""
    from steam_data_engineer_project_spark.operators.clustering import (
        _pair_scores_arrow,
    )

    rows = []
    pid = 0
    for a in range(-3, 4):
        for b in range(-3, 4):
            qa = [a, 2 * a, -a, 3]
            qb = [b, -b, 2 * b, 3]
            rows.append(
                (
                    pid,
                    pid + 1000,
                    qa,
                    qb,
                    sum(v * v for v in qa),
                    sum(v * v for v in qb),
                )
            )
            pid += 1
    cand = spark.createDataFrame(
        rows,
        "id_a long, id_b long, qa array<long>, qb array<long>, na long, nb long",
    )
    t_sq_104 = int(0.5 * 0.5 * 10_000)
    dot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    want = {
        (r.id_a, r.id_b): r.cos_micro
        for r in cand.withColumn("dot", dot)
        .filter(
            (F.col("dot") > 0)
            & (
                F.lit(10_000) * F.col("dot") * F.col("dot")
                >= F.lit(t_sq_104) * F.col("na") * F.col("nb")
            )
        )
        .select(
            "id_a",
            "id_b",
            F.floor(
                F.col("dot")
                / F.sqrt((F.col("na") * F.col("nb")).cast("double"))
                * F.lit(1e6)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("cos_micro"),
        )
        .collect()
    }
    assert want, "fixture must surface at least one passing pair"
    got = {
        (r.id_a, r.id_b): r.cos_micro
        for r in _pair_scores_arrow(cand, ["id_a", "id_b"], t_sq_104).collect()
    }
    assert got == want


def test_train_ivf_codebook_fused_matches_join_aggregate_form(spark):
    """Round-12 optimization guard: the fused codebook build (one Arrow
    pass deriving qv+m, assigning, and partial-summing m per task —
    _train_partials(sum_col='m')) must emit EXACTLY the codebook the old
    formulation produced: kmeans assignment joined onto the micro-unit
    vectors with a per-component floor-mean aggregate. int64 sums are exact and
    the ⌊Σm/c⌋ divides the same longs, so any divergence is a bug."""
    from steam_data_engineer_project_spark.operators.clustering import (
        _unit_micro_col,
        kmeans_int8,
        train_ivf_codebook,
    )

    rows = [
        (i, [((i * 31 + j * 17) % 13 - 6) * 0.25 + (1.0 if j == i % 6 else 0.0) for j in range(6)])
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    dim = 6

    assigned = kmeans_int8(df, "embedding", "vec_id", k=5, n_iter=3)
    unit = df.select("vec_id", _unit_micro_col("embedding").alias("m"))
    want = {
        int(r["centroid_id"]): [int(v) for v in r["cv"]]
        for r in assigned.select("vec_id", "cluster_id")
        .join(unit, "vec_id")
        .groupBy("cluster_id")
        .agg(
            F.array(
                *[
                    F.floor(F.sum(F.col("m")[i]) / F.count("*")).cast("long")
                    for i in range(dim)
                ]
            ).alias("cv")
        )
        .select(F.col("cluster_id").alias("centroid_id"), "cv")
        .collect()
    }
    got = {
        int(r["centroid_id"]): [int(v) for v in r["cv"]]
        for r in train_ivf_codebook(
            df, "embedding", "vec_id", n_centroids=5, n_iter=3
        ).collect()
    }
    assert got == want


def test_ivf_assign_arrow_matches_jvm_argmax_chain(spark):
    """Round-12 optimization guard: the vectorized serve-time IVF
    assignment (_ivf_assign_arrow) must reproduce the JVM
    crossJoin(broadcast codebook) → _int_cosine_score →
    max(struct(score, -cid)) argmax it replaced — including score ties
    (identical vectors in the codebook tie on every row and must break to
    the smallest centroid id). A zero-norm row is compared only against
    the Arrow path's documented rule (smallest cid): under ANSI (this
    engine's setting) the old JVM chain RAISED DIVIDE_BY_ZERO on 0/0, so
    the Arrow path is strictly more defined there, and no registry input
    quantizes to a zero vector (the oracle hash would convict drift)."""
    from steam_data_engineer_project_spark.operators.clustering import (
        _int_cosine_score,
        _ivf_assign_arrow,
        quantized_vectors,
    )

    rows = [
        (i, [((i * 7 + j * 5) % 9 - 4) * 1.0 for j in range(4)])
        for i in range(40)
    ]
    rows.append((40, [0.0, 0.0, 0.0, 0.0]))  # zero-norm → NaN score row
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qdf = quantized_vectors(df, "embedding", "vec_id").withColumn(
        "nx",
        F.aggregate("qv", F.lit(0).cast("long"), lambda a, v: a + v * v),
    )
    # centroid 2 duplicates centroid 1 → every row TIES on them and must
    # resolve to cid 1 (the smaller), in both formulations.
    cb = [
        (0, [4, -3, 2, -1]),
        (1, [-2, 5, -1, 3]),
        (2, [-2, 5, -1, 3]),
        (3, [1, 1, 1, 1]),
    ]
    cb_rows = [
        (cid, cv, sum(v * v for v in cv)) for cid, cv in cb
    ]
    codebook = spark.createDataFrame(
        [(cid, cv, nc) for cid, cv, nc in cb_rows],
        "centroid_id long, cv array<long>, nc long",
    )
    want = {
        int(r["vec_id"]): int(r["centroid_id"])
        # the JVM reference chain only over well-defined rows: nx = 0
        # divides 0/0, which ANSI mode rejects outright
        for r in qdf.filter(F.col("nx") > 0)
        .crossJoin(F.broadcast(codebook))
        .select(
            "vec_id",
            "centroid_id",
            _int_cosine_score("qv", "cv", "nx", "nc").alias("score"),
        )
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("score"), (-F.col("centroid_id")).alias("neg"))
            ).alias("mx")
        )
        .select("vec_id", (-F.col("mx.neg")).alias("centroid_id"))
        .collect()
    }
    got = {
        int(r["vec_id"]): int(r["centroid_id"])
        for r in _ivf_assign_arrow(qdf, "vec_id", cb_rows).collect()
    }
    nan_cid = got.pop(40)  # zero-norm row: Arrow-path rule only (see doc)
    assert got == want
    assert nan_cid == 0  # NaN scores everywhere → first (smallest) cid
    assert 2 not in set(got.values())  # ties always break to cid 1


def test_kmeans_hash_seed_spreads_correlated_id_prefix(spark):
    """A sorted-by-domain corpus (ids 0..7 all from ONE semantic cluster —
    the single-domain crawl-prefix failure mode) degenerates under id-order
    seeding: all 8 seeds land in one blob and the fixed iteration count
    can't spread them. seed='hash' picks the k smallest md5(id) values —
    id-order-independent — and must recover ≥5 of the 8 planted groups
    (8 hash-uniform seeds over 8 groups expect ~5.2 distinct; the md5
    order is fixed, so the count is deterministic, not flaky) while
    staying engine-exact and oracle-replayable."""
    from steam_data_engineer_project_spark.operators.clustering import (
        kmeans_int8,
    )

    # 8 orthogonal directions, 24 vectors each; ids are SORTED BY GROUP so
    # ids 0..23 (and so the first 8) all belong to group 0.
    rows = []
    for g in range(8):
        for m in range(24):
            v = [0.0] * 8
            v[g] = 10.0
            v[(g + 1) % 8] = 0.5 + 0.01 * m  # in-group jitter
            rows.append((g * 24 + m, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def n_groups_recovered(seed):
        got = {
            r.vec_id: r.cluster_id
            for r in kmeans_int8(
                df, "embedding", "vec_id", k=8, n_iter=3, seed=seed
            ).collect()
        }
        # a group is "recovered" when all its members share one cluster
        # that no other group uses
        by_group = [
            {got[g * 24 + m] for m in range(24)} for g in range(8)
        ]
        pure = [c for c in by_group if len(c) == 1]
        owners = [next(iter(c)) for c in pure]
        return sum(1 for o in owners if owners.count(o) == 1)

    assert n_groups_recovered("hash") >= 5
    assert n_groups_recovered("hash") > n_groups_recovered("id")


def test_kmeans_seeds_k_clusters_on_sparse_ids_and_warns_on_shortfall(spark):
    """Sparse / non-zero-based id spaces must still seed exactly k clusters
    (true k-smallest-ids selection, not an id<k filter that silently
    under-seeds); a corpus smaller than k warns and proceeds."""
    import warnings

    from steam_data_engineer_project_spark.operators.clustering import (
        kmeans_int8,
    )

    # ids start at 1000 — the old filter(id < k) would find ZERO seeds here
    rows = [(1000 + i, [(-8.0 if i % 2 else 8.0) + 0.2 * (i % 3)] * 4) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = kmeans_int8(df, "embedding", "vec_id", k=2, n_iter=2).collect()
    assert len({r.cluster_id for r in got}) == 2
    assert {r.cluster_id for r in got} == {1000, 1001}  # seed ids ARE the cids

    small = spark.createDataFrame(rows[:3], "vec_id long, embedding array<double>")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = kmeans_int8(small, "embedding", "vec_id", k=10, n_iter=1).collect()
    assert len(out) == 3
    assert any("seeded only 3 of 10" in str(x.message) for x in w)


def test_kmeans_overflow_guard_raises_past_int64_bound(spark):
    """Past the documented ~2e8-vector bound the int64 distance matrix
    would WRAP silently in numpy — the guard must raise instead (wrong
    assignments with no signal is the one unacceptable failure mode)."""
    import pytest as _pytest

    from steam_data_engineer_project_spark.operators.clustering import (
        _assign_to_centroids,
        quantized_vectors,
    )

    df = spark.createDataFrame(
        [(0, [1.0] * 64)], "vec_id long, embedding array<double>"
    )
    base = quantized_vectors(df, "embedding", "vec_id")
    huge_count = 2**30  # dim·(2·127·c)² ≥ 2⁶³ at dim=64
    with _pytest.raises(ValueError, match="distance bound exceeded"):
        _assign_to_centroids(base, "vec_id", [(0, [127] * 64, huge_count)])


def test_clustering_callers_leave_no_cache_entry(spark):
    """Every persist a clustering call makes is released before the call
    returns, so a caller that never sees a handle leaks nothing: after
    each result is collected, Spark's CacheManager is empty again. Two
    registry invocations in a row pin that the second one neither finds
    nor leaves the first one's entries."""
    from steam_data_engineer_project_spark.operators.clustering import (
        incremental_semantic_verdicts,
        kmeans_int8,
        semantic_dedup_pairs,
    )
    from steam_data_engineer_project_spark.queries import QUERIES

    rows = [(i, [float(i % 5), float(i % 3), 1.0, 0.5]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus, incoming = df.filter("vec_id < 30"), df.filter("vec_id >= 30")
    sem = QUERIES["dedup_embedding_cosine"].spark
    calls = [
        ("kmeans_int8", lambda: kmeans_int8(df, "embedding", "vec_id", k=3)),
        (
            "semantic_dedup_pairs",
            lambda: semantic_dedup_pairs(df, "embedding", "vec_id", k=3),
        ),
        (
            "incremental_semantic_verdicts",
            lambda: incremental_semantic_verdicts(
                corpus, incoming, "embedding", "vec_id", k=3
            ),
        ),
        ("dedup_embedding_cosine", lambda: sem(spark, "/root/testdata/sf0.001")),
        ("dedup_embedding_cosine again", lambda: sem(spark, "/root/testdata/sf0.001")),
    ]
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for name, build in calls:
        build().collect()
        assert cache_manager.isEmpty(), f"{name} left a CacheManager entry"


def test_builder_fingerprint_tracks_names_and_nested_code():
    """The fixture cache key must move when a builder edit only changes
    co_names (e.g. .text(...)→.json(...)) and must stay STABLE for nested
    lambdas (repr of a code object embeds a memory address — two
    equal-content lambdas defined apart must digest identically)."""
    from steam_data_engineer_project_spark.queries import _builder_fingerprint

    def b_text(d):
        return open(d).read()

    def b_json(d):
        return open(d).readline()  # same shapes, different co_names

    assert _builder_fingerprint(b_text) != _builder_fingerprint(b_json)

    def with_lambda_1(d):
        return sorted([d], key=lambda x: x + "1")

    def with_lambda_2(d):
        return sorted([d], key=lambda x: x + "1")

    def with_lambda_3(d):
        return sorted([d], key=lambda x: x + "2")

    assert _builder_fingerprint(with_lambda_1) == _builder_fingerprint(with_lambda_2)
    assert _builder_fingerprint(with_lambda_1) != _builder_fingerprint(with_lambda_3)


def test_kmv_merge_equals_direct_sketch_on_the_union(spark):
    """Mergeability — the sketch's selling point: sketch two disjoint
    shards separately, merge (union hash sets, re-take k smallest), and
    the merged sketch AND its estimate are identical to sketching the
    union directly. Overlapping shards collapse shared values via the
    merge's DISTINCT (same value ⇒ same hash)."""
    from steam_data_engineer_project_spark.operators.sketches import (
        kmv_estimate_from_sketch,
        kmv_merge,
        kmv_sketch,
    )

    rows = [("g1", f"v{i}") for i in range(300)] + [
        ("g2", f"v{i}") for i in range(20)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    # overlapping halves: [0, 200) and [150, 300) — shared values must
    # not double-count
    a = df.where("CAST(substring(v, 2) AS INT) < 200")
    b = df.where("CAST(substring(v, 2) AS INT) >= 150")
    k = 32
    merged = kmv_merge(
        [kmv_sketch(a, "g", "v", k=k), kmv_sketch(b, "g", "v", k=k)], "g", k=k
    )
    direct = kmv_sketch(df, "g", "v", k=k)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )
    em = {r.g: (r.est_distinct, r.sketch_size)
          for r in kmv_estimate_from_sketch(merged, "g", k=k).collect()}
    ed = {r.g: (r.est_distinct, r.sketch_size)
          for r in kmv_estimate_from_sketch(direct, "g", k=k).collect()}
    assert em == ed
    # g2 never fills the sketch: exact count; g1 estimates near 300
    assert em["g2"] == (20, 20)
    assert 150 <= em["g1"][0] <= 600 and em["g1"][1] == k
    # and the sketch-path estimate agrees with the one-shot operator
    from steam_data_engineer_project_spark.operators.sketches import (
        kmv_distinct_estimate,
    )

    one_shot = {r.g: (r.est_distinct, r.sketch_size)
                for r in kmv_distinct_estimate(df, "g", "v", k=k).collect()}
    assert one_shot == em


def test_incremental_semantic_verdicts_classifies_batch_vs_corpus(spark):
    """The crawl-shaped SemDeDup: the corpus is clustered ONCE, the batch
    is assigned to the frozen centroid state, and pairs are drawn
    batch-vs-corpus only. A near-twin of a corpus vector → semantic_dup
    with cos_micro ≈ 10⁶; an orthogonal newcomer → new with zero matches
    (the 'new' path verified, not just absent)."""
    from steam_data_engineer_project_spark.operators.clustering import (
        incremental_semantic_verdicts,
    )

    corpus = spark.createDataFrame(
        [
            (0, [5.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 5.0, 0.0, 0.0]),
            (2, [3.0, 3.0, 3.0, 3.0]),
            (3, [0.0, 0.0, 5.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    incoming = spark.createDataFrame(
        [
            (10, [3.0, 3.0, 3.0, 3.01]),   # twin of corpus 2
            (11, [0.0, 0.0, 0.0, 7.0]),    # novel direction
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: r
        for r in incremental_semantic_verdicts(
            corpus, incoming, "embedding", "vec_id", k=2, n_iter=2,
            threshold=0.95,
        ).collect()
    }
    assert got[10].verdict == "semantic_dup"
    assert got[10].n_corpus_matches >= 1 and got[10].max_cos_micro >= 990_000
    assert got[11].verdict == "new"
    assert got[11].n_corpus_matches == 0 and got[11].max_cos_micro is None


def test_corpus_pipeline_split_leaks_nothing_and_the_test_has_teeth(spark):
    """The e2e pipeline's leakage guarantee, pinned non-vacuously:

    1. its hashed `leakage` row is 0 — no near-dup pair straddles
       train/valid when the split is keyed by the cluster canonical;
    2. near-dup pairs DO survive into the split population (otherwise 0
       would be vacuous);
    3. counterfactual: splitting the same population by raw doc_id (the
       naive key) WOULD straddle at least one pair — proving the zero is
       the canonical key's doing, not an accident of the fixture."""
    from steam_data_engineer_project_spark.operators.sampling import (
        _hash_bucket,
    )
    from steam_data_engineer_project_spark.queries import corpus_pipeline_e2e

    sf = "/root/testdata/sf0.01"
    out = corpus_pipeline_e2e(spark, sf).persist()
    leak = out.filter(F.col("part") == "leakage").collect()
    assert len(leak) == 1 and leak[0].n == 0

    # split rows carry (id=doc_id, n=split_key); rebuild the pair set the
    # pipeline used and check both endpoints are present (teeth #2)
    split_rows = {
        r.id: (r.split, r.n) for r in out.filter(F.col("part") == "split").collect()
    }
    grouped = [
        (i, k) for i, (s, k) in split_rows.items() if k != i
    ]  # members of non-trivial clusters
    assert grouped, "no near-dup cluster member reached the split — vacuous"

    # counterfactual #3: bucket by RAW doc_id; some cluster must straddle
    def side(key):
        h = __import__("hashlib").md5(f"v:{key}".encode()).hexdigest()[:8]
        return "train" if int(h, 16) % 10000 < 9000 else "valid"

    by_cluster = {}
    for i, (s, k) in split_rows.items():
        by_cluster.setdefault(k, []).append((i, s))
    # actual: every cluster on one side
    for k, members in by_cluster.items():
        assert len({s for _, s in members}) == 1
    naive_straddle = any(
        len({side(i) for i, _ in members}) > 1
        for members in by_cluster.values()
        if len(members) > 1
    )
    assert naive_straddle, "fixture has no cluster that the naive split would break — counterfactual vacuous"
    out.unpersist()


def test_bloom_no_false_negatives_and_merge_equals_direct(spark):
    """The Bloom prefilter's two load-bearing properties: (1) a value that
    was built into the filter can NEVER miss (false negatives impossible —
    what makes it a safe decontamination prefilter), and (2) merging two
    filters (per-word bit_or) is identical to building one filter over the
    unioned value sets — the store-one-filter-per-benchmark-release form."""
    from steam_data_engineer_project_spark.operators.bloom import (
        bloom_bitset,
        bloom_merge,
        bloom_probe_count,
    )

    kw = dict(m_bits=1 << 14, n_hashes=4, salt="t")
    a = spark.createDataFrame([(f"a{i}",) for i in range(150)], "v string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(150)], "v string")
    union = a.unionByName(b)
    merged = bloom_merge(bloom_bitset(a, "v", **kw), bloom_bitset(b, "v", **kw))
    direct = bloom_bitset(union, "v", **kw)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )
    # every built value probes back as a hit — zero false negatives
    probe = union.withColumn("id", F.monotonically_increasing_id())
    res = bloom_probe_count(probe, "v", "id", direct, **kw)
    assert res.filter("n_hits != 1 OR n_probed != 1").count() == 0


def test_bloom_rejects_fewer_than_one_hash(spark):
    """With no hash positions every probe would pass the all-positions-set
    test, so both the build and the probe refuse ``n_hashes < 1``."""
    import pytest

    from steam_data_engineer_project_spark.operators.bloom import (
        bloom_bitset,
        bloom_probe_count,
    )

    vals = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    bits = bloom_bitset(vals, "v", m_bits=1 << 10, n_hashes=2)
    for n_hashes in (0, -1):
        with pytest.raises(ValueError, match="n_hashes"):
            bloom_bitset(vals, "v", m_bits=1 << 10, n_hashes=n_hashes)
        with pytest.raises(ValueError, match="n_hashes"):
            bloom_probe_count(
                vals, "v", "id", bits, m_bits=1 << 10, n_hashes=n_hashes
            )


def test_bloom_probe_matches_explode_aggregate_form(spark):
    """Round-13 optimization guard: the per-hash broadcast-join probe
    (h narrow joins + row-wise conjunction) must emit exactly the
    (n_probed, n_hits) of the explode+min-aggregate formulation it
    replaced — including duplicate (id, value) inputs (the defensive
    distinct), values whose h positions collide into one word, and
    missing-word (NULL bits) misses."""
    from steam_data_engineer_project_spark.operators.bloom import (
        _WORD_BITS,
        _positions,
        bloom_bitset,
        bloom_probe_count,
    )

    kw = dict(m_bits=1 << 10, n_hashes=4, salt="g")  # tiny m: forced collisions
    built = spark.createDataFrame(
        [(f"v{i}",) for i in range(60)], "v string"
    )
    bits = bloom_bitset(built, "v", **kw)
    # probe mix: built values (hits), unseen values (mostly misses), and a
    # duplicated (id, value) row that the defensive distinct must collapse
    probe = spark.createDataFrame(
        [(i % 7, f"v{i}") for i in range(120)] + [(0, "v0")],
        "id long, v string",
    )

    def reference():
        probes = (
            probe.select("id", F.col("v").alias("__v"))
            .where(F.col("__v").isNotNull())
            .distinct()
            .select(
                "id",
                "__v",
                F.explode(
                    _positions(F.col("__v"), kw["m_bits"], kw["n_hashes"], kw["salt"])
                ).alias("pos"),
            )
            .select(
                "id",
                "__v",
                F.expr(f"pos DIV {_WORD_BITS}").alias("word_idx"),
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_WORD_BITS} AS INT))"
                ).alias("__mask"),
            )
        )
        joined = probes.join(F.broadcast(bits), "word_idx", "left")
        per_value = joined.groupBy("id", "__v").agg(
            F.min(
                F.when(
                    F.col("bits").isNotNull()
                    & (F.col("bits").bitwiseAND(F.col("__mask")) != 0),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("__hit")
        )
        return per_value.groupBy("id").agg(
            F.count("*").cast("long").alias("n_probed"),
            F.sum("__hit").cast("long").alias("n_hits"),
        )

    want = sorted(map(tuple, reference().collect()))
    got = sorted(map(tuple, bloom_probe_count(probe, "v", "id", bits, **kw).collect()))
    assert got == want
    # a hit actually occurs in the fixture (not vacuously all-miss)
    assert any(h > 0 for _, _, h in want)
    # assume_distinct over a genuinely distinct input: identical
    got_ad = sorted(
        map(
            tuple,
            bloom_probe_count(
                probe.distinct(), "v", "id", bits, assume_distinct=True, **kw
            ).collect(),
        )
    )
    assert got_ad == want


def test_grouped_single_pass_builds_match_per_group_builds(spark):
    """Round-13 guard: the day-keyed single-pass builds
    (bloom_bitset(group_col=...), boilerplate_lines(group_col=...)) must
    emit, per group, exactly the artifact the ungrouped operator builds on
    that group's rows alone — counts, shards, ranks, words and bits all
    per-group identical (what lets sketch_merge_suite scan the corpus once
    per family instead of once per family per day)."""
    from steam_data_engineer_project_spark.operators.bloom import bloom_bitset
    from steam_data_engineer_project_spark.operators.dedup import (
        boilerplate_lines,
    )

    rows = [
        (i, i % 3, f"header line\nbody {i % 7} text\nfooter {i % 2}")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, day long, txt string")

    grouped = boilerplate_lines(
        df, "txt", "doc_id", min_docs=1, top_m=10**9, n_shards=4,
        group_col="day",
    )
    for i in range(3):
        want = sorted(
            map(
                tuple,
                boilerplate_lines(
                    df.filter(F.col("day") == i),
                    "txt",
                    "doc_id",
                    min_docs=1,
                    top_m=10**9,
                    n_shards=4,
                ).collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                grouped.filter(F.col("day") == i)
                .select("shard", "line", "n_docs", "rank")
                .collect(),
            )
        )
        assert got == want, f"boilerplate day {i}"

    toks = df.select(
        "day", F.explode(F.split("txt", "\\s+")).alias("token")
    )
    bkw = dict(m_bits=1 << 12, n_hashes=3, salt="t")
    gbits = bloom_bitset(toks, "token", group_col="day", **bkw)
    for i in range(3):
        want = sorted(
            map(
                tuple,
                bloom_bitset(
                    toks.filter(F.col("day") == i), "token", **bkw
                ).collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                gbits.filter(F.col("day") == i)
                .select("word_idx", "bits")
                .collect(),
            )
        )
        assert got == want, f"bloom day {i}"


def test_bloom_planted_contamination_always_surfaces(spark):
    """Decontamination shape: every shingle of a doc QUOTING benchmark
    material hits the benchmark-side filter, so the quoting doc's hit
    count reaches the threshold regardless of false-positive luck — while
    a disjoint-vocabulary doc's hits come only from (deterministic, here
    zero at this load factor) false positives."""
    from steam_data_engineer_project_spark.operators.bloom import (
        bloom_bitset,
        bloom_probe_count,
    )
    from steam_data_engineer_project_spark.operators.dedup import shingle_table

    ev = spark.createDataFrame(
        [(100, "benchmark prompt alpha beta gamma variant one")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "filler words benchmark prompt alpha beta gamma variant one"),
            (2, "totally unrelated vocabulary nothing shared here at all"),
        ],
        "doc_id long, text string",
    )
    kw = dict(m_bits=1 << 16, n_hashes=4)
    bits = bloom_bitset(
        shingle_table(ev, "text", "doc_id", n=3).select("shingle"), "shingle", **kw
    )
    res = {
        r.doc_id: (r.n_probed, r.n_hits)
        for r in bloom_probe_count(
            shingle_table(train, "text", "doc_id", n=3),
            "shingle",
            "doc_id",
            bits,
            **kw,
        ).collect()
    }
    # doc 1 quotes the full 7-token phrase: its 5 interior shingles are
    # all in the eval filter
    assert res[1][1] >= 5, res
    assert res[2][1] == 0, res


def test_boilerplate_lines_counts_docs_not_occurrences_and_merges(spark):
    """(1) A doc repeating its own header 50× contributes ONE to that
    line's doc count; (2) min_docs=1 shard reports from disjoint corpora
    merge (counts add, per-shard re-rank) to exactly the direct report."""
    from steam_data_engineer_project_spark.operators.dedup import (
        boilerplate_lines,
        boilerplate_merge,
    )

    spammy = "\n".join(["repeated header"] * 50) + "\nbody zero"
    docs = spark.createDataFrame(
        [(0, spammy)]
        + [(i, f"repeated header\nbody {i}") for i in range(1, 6)]
        + [(i, f"only doc {i}") for i in range(6, 9)],
        "doc_id long, text string",
    )
    rep = boilerplate_lines(docs, "text", "doc_id", min_docs=2, top_m=10, n_shards=4)
    out = {r.line: r.n_docs for r in rep.collect()}
    assert out == {"repeated header": 6}, out

    left = docs.filter("doc_id < 4")
    right = docs.filter("doc_id >= 4")
    kw = dict(min_docs=1, top_m=10**6, n_shards=4)
    merged = boilerplate_merge(
        [
            boilerplate_lines(left, "text", "doc_id", **kw),
            boilerplate_lines(right, "text", "doc_id", **kw),
        ],
        top_m=5,
    )
    direct = boilerplate_lines(
        docs, "text", "doc_id", min_docs=1, top_m=5, n_shards=4
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_kmv_row_sample_merge_equals_direct_and_quantiles_bounded(spark):
    """The sampled-quantile stack: (1) min-k-of-hashes row samples from
    disjoint shards re-minned to k are bit-identical to sampling the union
    directly (the mergeability exact quantiles lack); (2) the sampled
    quantile's rank error on a known uniform distribution stays inside the
    O(1/sqrt(k)) band; (3) a group smaller than k is computed exactly and
    says so via sample_n."""
    from pyspark.sql import Window

    from steam_data_engineer_project_spark.operators.sketches import (
        kmv_row_sample,
        sampled_group_quantiles,
    )

    data = [("big", i, (i * 37) % 1000) for i in range(4000)] + [
        ("tiny", 10_000 + i, i) for i in range(20)
    ]
    df = spark.createDataFrame(data, "g string, id long, v long")

    k = 64
    direct = kmv_row_sample(df, "g", "id", k=k)
    a = kmv_row_sample(df.filter("id % 2 = 0"), "g", "id", k=k)
    b = kmv_row_sample(df.filter("id % 2 = 1"), "g", "id", k=k)
    w = Window.partitionBy("g").orderBy("__kmv_rh", "id")
    remerged = (
        a.unionByName(b)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, remerged.collect())
    )

    q = sampled_group_quantiles(df, "g", "v", "id", [0.5, 0.9], k=128)
    rows = {(r.g, r.q_ppm): r for r in q.collect()}
    # big: values are ~uniform on [0, 1000); sampled quantile within
    # ±4/sqrt(128) of the true quantile in quantile space
    import math

    tol = 4 / math.sqrt(128) * 1000
    assert abs(rows[("big", 500_000)].q_value - 500) < tol
    assert abs(rows[("big", 900_000)].q_value - 900) < tol
    assert rows[("big", 500_000)].sample_n == 128
    # tiny never fills the sample: exact PERCENTILE_DISC over all 20 rows
    assert rows[("tiny", 500_000)].sample_n == 20
    assert rows[("tiny", 500_000)].q_value == 9
    assert rows[("tiny", 900_000)].q_value == 17


def test_kmv_row_sample_check_unique_guard(spark):
    """check_unique=True turns the documented unique-key PRECONDITION into
    a loud execution-time error (duplicate keys tie on the row hash and
    silently inflate/destabilize the sample otherwise), while clean input
    passes through bit-identical to the unchecked path."""
    import pytest

    from steam_data_engineer_project_spark.operators.sketches import (
        kmv_row_sample,
    )

    clean = spark.createDataFrame(
        [("g", i, i * 10) for i in range(50)], "g string, id long, v long"
    )
    checked = kmv_row_sample(clean, "g", "id", k=8, check_unique=True)
    plain = kmv_row_sample(clean, "g", "id", k=8)
    assert sorted(map(tuple, checked.collect())) == sorted(
        map(tuple, plain.collect())
    )

    dup = clean.unionByName(
        spark.createDataFrame([("g", 7, 999)], "g string, id long, v long")
    )
    # unchecked: silently samples (precondition violated, garbage-in)
    kmv_row_sample(dup, "g", "id", k=8).collect()
    with pytest.raises(Exception, match="duplicate key"):
        kmv_row_sample(dup, "g", "id", k=8, check_unique=True).collect()


def test_store_served_entry_guards(spark):
    """The store-served incremental entries raise an explicit ValueError —
    not a deep AttributeError — when corpus=None is passed without the
    stored artifact(s) that replace it (round-7 ADVICE)."""
    import pytest

    from steam_data_engineer_project_spark.operators import (
        assign_with_state,
        incremental_dedup_verdicts,
        incremental_duplicated_spans,
        incremental_semantic_verdicts,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    st = [(0, [100, 0], 1)]

    with pytest.raises(ValueError, match="corpus_hashes AND corpus_shingles"):
        incremental_dedup_verdicts(None, docs, "text", "doc_id")
    with pytest.raises(ValueError, match="corpus_hashes AND corpus_shingles"):
        incremental_dedup_verdicts(
            None, docs, "text", "doc_id", corpus_hashes=docs.select("doc_id")
        )
    with pytest.raises(ValueError, match="corpus_windows"):
        incremental_duplicated_spans(None, docs, "text", "doc_id")
    with pytest.raises(ValueError, match="corpus or"):
        incremental_semantic_verdicts(None, vecs, "embedding", "vec_id")
    with pytest.raises(ValueError, match="corpus_assigned"):
        incremental_semantic_verdicts(
            None, vecs, "embedding", "vec_id", state=st
        )
    with pytest.raises(ValueError, match="qdf"):
        assign_with_state(None, "embedding", "vec_id", st)


def test_duplicated_spans_cuts_cross_doc_passages_only(spark):
    """Substring-level dedup (the Lee-et-al-2022 shape): a 25-token passage
    quoted by two docs is cut from both as ONE maximal span with its
    surrounding unique text intact; a doc repeating ITSELF is untouched
    (min_docs counts distinct documents); exact-dup docs are fully
    covered; sub-window docs (< w tokens) pass through whole."""
    from steam_data_engineer_project_spark.operators.dedup import (
        duplicated_spans,
    )

    passage = " ".join(f"quoted{i}" for i in range(25))
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + passage + " gamma delta"),
            (2, "x1 x2 x3 " + passage + " y1"),
            (3, "self repeat self repeat self repeat self repeat self repeat self repeat"),
            (4, "exact duplicate full document body here now twelve tokens total ok"),
            (5, "exact duplicate full document body here now twelve tokens total ok"),
            (6, "short doc"),
        ],
        "doc_id long, text string",
    )
    r = {
        x.doc_id: x
        for x in duplicated_spans(docs, "text", "doc_id", w=10).collect()
    }
    assert (r[1].n_dup_tokens, r[1].n_spans) == (25, 1)
    assert r[1].clean_text == "alpha beta gamma delta"
    assert (r[2].n_dup_tokens, r[2].n_spans) == (25, 1)
    assert r[2].clean_text == "x1 x2 x3 y1"
    # within-doc repetition is NOT cross-doc duplication
    assert r[3].n_dup_tokens == 0 and r[3].n_spans == 0
    # exact-dup pair: every window shared, whole doc covered
    for i in (4, 5):
        assert r[i].n_dup_tokens == r[i].n_tokens and r[i].clean_text == ""
        assert r[i].n_spans == 1
    # shorter than one window: no windows, untouched
    assert r[6].n_dup_tokens == 0 and r[6].clean_text == "short doc"


def test_duplicated_spans_disjoint_quotes_make_separate_spans(spark):
    """Two separate shared windows inside one doc, with unique text
    between, produce TWO maximal spans — the n_spans run-boundary math."""
    from steam_data_engineer_project_spark.operators.dedup import (
        duplicated_spans,
    )

    q1 = " ".join(f"first{i}" for i in range(10))
    q2 = " ".join(f"second{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, q1 + " middle unique bridge words here " + q2),
            (2, "lead in " + q1 + " tail"),
            (3, q2 + " closing remark"),
        ],
        "doc_id long, text string",
    )
    r = {
        x.doc_id: x
        for x in duplicated_spans(docs, "text", "doc_id", w=10).collect()
    }
    assert (r[1].n_dup_tokens, r[1].n_spans) == (20, 2)
    assert r[1].clean_text == "middle unique bridge words here"


def test_token_rarity_separates_common_from_rare_docs(spark):
    """The integer surprisal prior: a doc of corpus-common tokens scores
    low, a doc of corpus-unique tokens scores high, and the score is the
    exact integer (sum-of-ranks · 10⁶) DIV (occurrences · |vocab|) — no
    floats anywhere."""
    from steam_data_engineer_project_spark.operators.textstats import (
        token_rarity_stats,
    )

    # 'common' appears in every doc; each rare{i} in exactly one
    docs = spark.createDataFrame(
        [(i, "common common common") for i in range(8)]
        + [(100, "rareA rareB rareC"), (101, "common rareD")],
        "doc_id long, text string",
    )
    r = {
        x.doc_id: (x.n_tokens, x.rarity_micro)
        for x in token_rarity_stats(docs, "text", "doc_id").collect()
    }
    # vocab = common(df=9), rareA..rareD(df=1 each) → ranks by (df, tok):
    # rareA=1, rareB=2, rareC=3, rareD=4, common=5; reversed rank =
    # |vocab|−rank+1, so common→1, rareD→2, rareC→3, rareB→4, rareA→5
    assert r[0] == (3, (1 * 3 * 1_000_000) // (3 * 5))  # all-common → low
    assert r[100] == (3, ((5 + 4 + 3) * 1_000_000) // (3 * 5))  # rare → high
    assert r[101] == (2, ((1 + 2) * 1_000_000) // (2 * 5))
    assert r[100][1] > r[0][1]


def test_merge_operators_property_random_shards_equal_direct(spark):
    """Property test over ALL four mergeable sketch families at once: for
    ANY small corpus and ANY 2-way sharding of it, building per-shard
    summaries and merging equals building directly on the union —
    arbitrary inputs, not just the planted fixtures. (Value overlap
    across KMV shards is covered separately by
    test_kmv_merge_equals_direct_sketch_on_the_union; the row-sample and
    boilerplate merges require disjoint shards, which is their documented
    contract and what the boolean sharding generates.)"""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import Window

    from steam_data_engineer_project_spark.operators.bloom import (
        bloom_bitset,
        bloom_merge,
    )
    from steam_data_engineer_project_spark.operators.dedup import (
        boilerplate_lines,
        boilerplate_merge,
    )
    from steam_data_engineer_project_spark.operators.sketches import (
        kmv_merge,
        kmv_row_sample,
        kmv_row_sample_merge,
        kmv_sketch,
    )

    words = st.sampled_from([f"w{i}" for i in range(12)])

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.tuples(st.lists(words, min_size=1, max_size=6), st.booleans()),
            min_size=2,
            max_size=10,
        )
    )
    def check(doc_specs):
        rows = [
            (i, " ".join(ws), in_a)
            for i, (ws, in_a) in enumerate(doc_specs)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, in_a boolean")
        a, b = df.filter("in_a"), df.filter("NOT in_a")

        # KMV value sketches (overlap allowed: same text may be in both)
        k = 4
        merged = kmv_merge(
            [kmv_sketch(s, "in_a", "text", k=k) for s in (a, b)], "in_a", k=k
        )
        # direct sketch per original group (in_a) over the SAME rows
        direct = kmv_merge([kmv_sketch(df, "in_a", "text", k=k)], "in_a", k=k)
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, direct.collect())
        )

        # Bloom bitsets over each shard's tokens
        kw = dict(m_bits=1 << 10, n_hashes=2, salt="p")
        from pyspark.sql import functions as FF

        def toks(s):
            return s.select(
                FF.explode(FF.split(FF.col("text"), " ")).alias("t")
            )

        bm = bloom_merge(
            bloom_bitset(toks(a), "t", **kw), bloom_bitset(toks(b), "t", **kw)
        )
        bd = bloom_bitset(toks(df), "t", **kw)
        assert sorted(map(tuple, bm.collect())) == sorted(
            map(tuple, bd.collect())
        )

        # boilerplate reports (disjoint shards by construction)
        kw2 = dict(min_docs=1, top_m=10**6, n_shards=4, line_delim=" ")
        bpm = boilerplate_merge(
            [
                boilerplate_lines(s, "text", "doc_id", **kw2)
                for s in (a, b)
                if s.count() > 0
            ],
            top_m=3,
        )
        bpd = boilerplate_lines(
            df, "text", "doc_id", min_docs=1, top_m=3, n_shards=4,
            line_delim=" ",
        )
        assert sorted(map(tuple, bpm.collect())) == sorted(
            map(tuple, bpd.collect())
        )

        # row samples (disjoint shards by construction)
        ks = 3
        sm = kmv_row_sample_merge(
            [kmv_row_sample(s, "in_a", "doc_id", k=ks) for s in (a, b)],
            "in_a",
            "doc_id",
            k=ks,
        )
        sd = kmv_row_sample(df, "in_a", "doc_id", k=ks)
        assert sorted(map(tuple, sm.collect())) == sorted(
            map(tuple, sd.collect())
        )

    check()


def test_incremental_duplicated_spans_batch_vs_corpus_only(spark):
    """The crawl-shaped span dedup: an incoming doc quoting corpus text is
    flagged with exactly the quoted span; a window shared only BETWEEN
    incoming docs does NOT count (batch-internal duplication belongs to
    the full operator after admission); unrelated incoming docs take the
    zero-coverage 'new' path."""
    from steam_data_engineer_project_spark.operators.dedup import (
        incremental_duplicated_spans,
    )

    passage = " ".join(f"q{i}" for i in range(12))
    batchdup = " ".join(f"b{i}" for i in range(10))
    corpus = spark.createDataFrame(
        [(100, "corpus filler text " + passage + " more corpus filler")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (1, "lead in " + passage + " tail words"),
            (2, batchdup + " unique two"),
            (3, batchdup + " unique three"),
            (4, "nothing shared with anything here at all ten tokens pad"),
        ],
        "doc_id long, text string",
    )
    r = {
        x.doc_id: x
        for x in incremental_duplicated_spans(
            corpus, incoming, "text", "doc_id", w=10
        ).collect()
    }
    assert (r[1].n_dup_tokens, r[1].n_spans) == (12, 1)
    assert r[1].clean_text == "lead in tail words"
    # batch-internal 10-gram shared by docs 2 and 3: NOT corpus-backed
    assert r[2].n_dup_tokens == 0 and r[3].n_dup_tokens == 0
    assert r[4].n_dup_tokens == 0 and r[4].n_spans == 0


def test_span_coverage_property_matches_python_replay(spark):
    """Property test (round-7 ask): for ANY tiny corpus of token lists and
    window width, duplicated_spans' coverage/maximal-run/removal algebra
    equals an independent pure-Python replay of the documented rule — a
    w-window is shared iff it appears in >= min_docs DISTINCT docs; a
    token at position p is covered iff a shared window starts in
    [p-w+1, p]; clean_text keeps uncovered tokens in order; n_spans counts
    maximal covered runs. The tiny alphabet forces frequent window
    collisions, including self-repeats (which must NOT count toward
    n_docs) and overlapping/adjacent spans."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from steam_data_engineer_project_spark.operators.dedup import (
        duplicated_spans,
    )

    words = st.sampled_from(["aa", "bb", "cc"])

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.lists(words, min_size=1, max_size=10), min_size=1, max_size=5
        ),
        st.integers(min_value=2, max_value=4),
    )
    def check(docs, w):
        rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.clean_text, r.n_tokens, r.n_dup_tokens, r.n_spans)
            for r in duplicated_spans(
                df, "text", "doc_id", w=w, min_docs=2
            ).collect()
        }
        win: dict = {}
        for did, t in enumerate(docs):
            for i in range(len(t) - w + 1):
                win.setdefault(tuple(t[i : i + w]), set()).add(did)
        shared = {g for g, ds in win.items() if len(ds) >= 2}
        want = {}
        for did, t in enumerate(docs):
            starts = [
                i
                for i in range(len(t) - w + 1)
                if tuple(t[i : i + w]) in shared
            ]
            cov = [
                any(s <= p < s + w for s in starts) for p in range(len(t))
            ]
            clean = " ".join(tok for p, tok in enumerate(t) if not cov[p])
            n_sp = sum(
                1
                for p in range(len(t))
                if cov[p] and (p == 0 or not cov[p - 1])
            )
            want[did] = (clean, len(t), sum(cov), n_sp)
        assert got == want, (docs, w, got, want)

    check()


def test_semantic_state_table_roundtrip_is_bit_lossless(spark):
    """The stored codebook artifact: write the frozen k-means state to
    parquet, reload it, and both the state list AND the assignments made
    from it must be identical to the in-memory original."""
    import os
    import tempfile

    from steam_data_engineer_project_spark.operators import (
        assign_with_state,
        kmeans_int8,
        semantic_state_from_table,
        semantic_state_table,
    )

    df = spark.createDataFrame(
        [
            (0, [5.0, 0.0, 0.0]),
            (1, [0.0, 5.0, 0.0]),
            (2, [4.9, 0.3, 0.0]),
            (3, [0.1, 4.8, 0.2]),
            (4, [-3.0, -3.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    st: list = []
    kmeans_int8(df, "embedding", "vec_id", k=2, n_iter=2, state_out=st).collect()
    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "state")
        semantic_state_table(spark, st).write.parquet(p)
        st2 = semantic_state_from_table(spark.read.parquet(p))
    assert st2 == sorted((c, list(s), n) for c, s, n in st)
    a1 = sorted(
        map(tuple, assign_with_state(df, "embedding", "vec_id", st).collect())
    )
    a2 = sorted(
        map(tuple, assign_with_state(df, "embedding", "vec_id", st2).collect())
    )
    assert a1 == a2


def test_store_served_doc_verdicts_require_the_append(spark):
    """The counterfactual that makes corpus_store_suite's hash gate
    non-vacuous: a batch-2 doc duplicating a BATCH-1 doc is 'exact_dup'
    when served from the appended store but 'new' against the base-only
    slice — so the store APPEND is provably load-bearing, not decorative."""
    from steam_data_engineer_project_spark.operators import (
        incremental_dedup_verdicts,
        normalized_hashes,
    )
    from steam_data_engineer_project_spark.operators.dedup import shingle_table

    base = spark.createDataFrame(
        [(100, "alpha bravo charlie delta")], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(200, "echo foxtrot golf hotel")], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(300, "echo foxtrot golf hotel")], "doc_id long, text string"
    )

    def store(*parts):
        h = normalized_hashes(parts[0], "text")
        sh = shingle_table(parts[0], "text", "doc_id", n=3)
        for p in parts[1:]:
            h = h.unionByName(normalized_hashes(p, "text"))
            sh = sh.unionByName(shingle_table(p, "text", "doc_id", n=3))
        return h, sh

    for parts, want in (((base,), "new"), ((base, b1), "exact_dup")):
        h, sh = store(*parts)
        got = incremental_dedup_verdicts(
            None,
            b2,
            "text",
            "doc_id",
            corpus_hashes=h,
            corpus_shingles=sh,
        ).collect()
        assert got[0].verdict == want, (len(parts), got)


def test_corpus_store_suite_planted_truth(spark):
    """The registry suite's planted rows at the 500-doc fixture: batch-2
    docs planted as duplicates of BASE docs and of BATCH-1 docs must carry
    the right verdicts at every tier (the latter only exist if the store
    append worked), untouched batch-2 residues prove the 'new' paths, and
    the KMV merged arm must have filled its sketch (estimator path, not
    the exact-small fallback)."""
    from steam_data_engineer_project_spark.queries import QUERIES

    rows = QUERIES["corpus_store_suite"].spark(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by = {}
    for r in rows:
        by.setdefault(r.part, {})[r.id] = r

    # exact tier: %40==8 dup of base, %40==28 dup of batch 1 (append proof)
    for i in (8, 48):
        assert by["doc_b2"][i].verdict == "exact_dup", by["doc_b2"][i]
    assert by["doc_b2"][28].verdict == "exact_dup", by["doc_b2"][28]
    # near tier: %40==18 (vs base), %40==38 (vs batch 1) carry the planted
    # refresh phrase (6 shared interior shingles at n=3)
    assert by["doc_b2"][18].verdict in ("near_dup", "exact_dup")
    assert by["doc_b2"][18].n_b >= 6
    assert by["doc_b2"][38].verdict == "near_dup", by["doc_b2"][38]
    # span tier: the 15-token quoted passages, base-backed and b1-backed
    # >= 15: a boundary window (doc's final text token + the passage
    # head) can coincide across planted docs in the 500-doc soup,
    # extending coverage by a token or two — the floor is the passage
    assert by["span_b2"][9].verdict == "span_dup"
    assert by["span_b2"][9].n_a >= 15 and by["span_b2"][9].n_b >= 1
    assert by["span_b2"][29].verdict == "span_dup"
    assert by["span_b2"][29].n_a >= 15 and by["span_b2"][29].n_b >= 1
    # semantic tier: lattice twins of a base vector and a batch-1 vector
    assert by["sem_b2"][8].verdict == "semantic_dup", by["sem_b2"][8]
    assert by["sem_b2"][28].verdict == "semantic_dup", by["sem_b2"][28]
    # batch-1 verdicts served from the base-only slice: the PB payload
    # (crawl family) has no base partner, so doc 26 must be 'new' there
    assert by["doc_b1"][26].verdict == "new", by["doc_b1"][26]
    # KMV lifecycle: all three arms present; merged sketch filled to k
    assert set(by["kmv"]) == {0, 1, 2}
    assert by["kmv"][2].n_b == 48
    # codebook arm: one row per centroid, counts sum to the base corpus
    assert sum(r.n_b for r in by["codebook"].values()) == 300
