"""Empirical skew stress for the dedup/agg mitigations (r9 VERDICT ask 5).

The 100 TB story for the dedup tiers rests on the shingle doc-frequency
cap and on salting; until now the cap was correctness-tested but its
skew-FLATTENING effect was asserted only in prose. This tool plants a
pathological fixture at the sf1 notch and MEASURES stage-level task-time
balance (max task / median task per stage, from Spark's event log):

- **hot shingle**: 30% of documents share one appended sentence — its
  shingles' posting lists hold 15k docs each (≈112M candidate pairs per
  shingle uncapped). `dedup_ngram_jaccard_docs`'s max_doc_freq=100 must
  drop them before the self-join, keeping every stage balanced.
- **hot LSH bucket**: 1,000 docs share a text whose shingle set is
  dominated by one boilerplate block — their minhash band signatures
  collide into single buckets. The same cap applied to band-bucket
  posting lists must drop them.
- **hot aggregation key**: `skew_salted_agg` aggregates events whose
  event_type has only 5 values — every key is hot. The salted two-phase
  plan must stay flat. (The plain-groupBy counterfactual is ALSO
  measured and recorded honestly: for exactly-decomposable aggregates
  Spark's map-side partial aggregation already collapses each partition
  to ≤|keys| rows, so the one-phase plan measures flat too at this
  shape — the salted plan's 100 TB value is reducer-count headroom when
  |keys| ≪ cluster parallelism, not task-time flattening.)
- **hot join key**: lineitem with 30% of rows remapped to ONE l_partkey,
  joined to part with broadcast disabled (hint("merge")): the plain
  sort-merge join funnels the hot key into one task; `salted_join`
  spreads it across 16 salts and must stay flat.
- **counterfactuals**: the SAME fixture run without the mitigation
  (cap=None on a 4,000-doc hot set → ~8M pairs per posting row landing
  in single tasks; the unsalted merge join) must measure WORSE balance —
  otherwise the bound above is vacuous.

A stage counts when it has at least 8 tasks and carries at least 10% of
its query's summed task time; the per-query figure is the worst such
stage. Both halves are relative to the run itself, so a faster host keeps
the same stages: an absolute floor (a median task of 50 ms, before) left
`skew_salted_agg` with no stage at all on a quiet 4-core host. Smaller
stages are scheduling noise. Writes SKEW_sf1.json (committed; pinned by
tests/test_plans.py).

Usage: python tools/skew_stress.py [sf_dir] [out.json]
  (defaults: /root/repo/.sf1data  SKEW_sf1.json)
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from artifact_meta import provenance  # noqa: E402
from steam_data_engineer_project_spark.session import driver_heap_mb  # noqa: E402

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = sys.argv[1] if len(sys.argv) > 1 else os.path.join(_REPO, ".sf1data")
OUT = sys.argv[2] if len(sys.argv) > 2 else os.path.join(_REPO, "SKEW_sf1.json")

HOT_SENTENCE = (
    "subscribe to our newsletter for the latest deals and updates today"
)
HOT_FRAC_PCT = 30  # % of docs carrying the hot sentence (doc_id % 100 < this)
HOT_LSH_DOCS = 1_000  # docs whose text is ~all the shared boilerplate block
UNCAPPED_HOT_DOCS = 8_000  # hot set for the no-cap counterfactual
HOT_FK_FRAC_PCT = 30  # % of big-side join rows remapped to one key
MIN_TASKS = 8  # a stage counts with at least this many tasks ...
MIN_TIME_SHARE = 0.10  # ... carrying at least this share of its query's task time
N_JOIN_ROWS = 40_000_000  # synthetic big side for the join legs
N_JOIN_KEYS = 200_000
DRIVER_HEAP_MB_MAX = 24 << 10


def build_fixture(spark, dst: str) -> None:
    """Skewed copy of the sf tables: documents rewritten with the planted
    hot populations, everything else symlinked."""
    from pyspark.sql import functions as F

    os.makedirs(dst, exist_ok=True)
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"):
        src = os.path.join(SF_DIR, f"{t}.parquet")
        link = os.path.join(dst, f"{t}.parquet")
        if os.path.exists(src) and not os.path.exists(link):
            os.symlink(src, link)

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    boiler = " ".join(
        f"boilerplate{w} clause common footer legal" for w in range(40)
    )
    text = (
        # hot LSH bucket: first HOT_LSH_DOCS docs become boilerplate-dominated
        # (shingle sets ~identical → identical minhash band signatures)
        F.when(
            F.col("doc_id") % 50_000 < HOT_LSH_DOCS,
            F.concat(F.lit(boiler + " unique tail "), F.col("doc_id").cast("string")),
        )
        # hot shingle: 30% of docs share one appended sentence
        .when(
            F.col("doc_id") % 100 < HOT_FRAC_PCT,
            F.concat(F.col("text"), F.lit(" " + HOT_SENTENCE)),
        )
        .otherwise(F.col("text"))
    )
    docs.withColumn("text", text).repartition(32).write.mode(
        "overwrite"
    ).parquet(os.path.join(dst, "documents.parquet"))


def parse_event_log(log_dir: str) -> dict:
    """job-group -> every stage's task-duration summary, from the JSON
    event log."""
    # Spark 4 rolls event logs into a DIRECTORY per app
    # (eventlog_v2_<app>/events_*); flat single-file logs also accepted
    files = [
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
        and "appstatus" not in os.path.basename(p)
        and not p.endswith(".crc")
    ]
    group_of_stage: dict[int, str] = {}
    tasks: dict[int, list[int]] = {}
    names: dict[int, str] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                e = ev.get("Event")
                if e == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", ""
                    )
                    for si in ev.get("Stage Infos", []):
                        sid = si["Stage ID"]
                        group_of_stage[sid] = grp
                        names[sid] = si.get("Stage Name", "")
                elif e == "SparkListenerTaskEnd":
                    ti = ev.get("Task Info", {})
                    if ti.get("Failed") or ti.get("Killed"):
                        continue
                    dur = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                    tasks.setdefault(ev["Stage ID"], []).append(dur)
    out: dict[str, list[dict]] = {}
    for sid, durs in tasks.items():
        med = statistics.median(durs)
        out.setdefault(group_of_stage.get(sid, ""), []).append(
            {
                "stage_id": sid,
                "stage": names.get(sid, "")[:80],
                "n_tasks": len(durs),
                "median_ms": round(med, 1),
                "max_ms": max(durs),
                # a stage of sub-millisecond tasks reads against 1 ms
                "ratio": round(max(durs) / max(med, 1), 2),
                "task_ms": sum(durs),
            }
        )
    return out


def qualifying(stages: list[dict]) -> list[dict]:
    """The stages that count (module docstring), worst ratio first."""
    total = sum(s["task_ms"] for s in stages)
    return sorted(
        (
            s
            for s in stages
            if s["n_tasks"] >= MIN_TASKS and s["task_ms"] >= MIN_TIME_SHARE * total
        ),
        key=lambda s: -s["ratio"],
    )


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from steam_data_engineer_project_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from steam_data_engineer_project_spark.queries import QUERIES

    scratch = os.path.join(_REPO, ".scratch")
    fixture = os.path.join(scratch, "skew_fixture")
    log_dir = os.path.join(scratch, "skew_eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)

    # The data is partitioned 32 ways whatever the host: the fixture and
    # the synthetic join side are written in 32 partitions, and shuffles,
    # AQE's coalescing floor and the spread scans use 32 too. Threads
    # follow the host's cores. More threads than cores would time-slice
    # each stage's tasks, so a straggler's max/median ratio would shrink
    # toward 1: at local[32] on 4 cores the unsalted join read 2.0 and the
    # uncapped n-gram 2.4.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 32))
    # a 24 GB heap on a 16 GB host was killed by the kernel during the
    # uncapped n-gram leg
    heap_mb = driver_heap_mb(DRIVER_HEAP_MB_MAX)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("skew-stress")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.default.parallelism", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", f"{heap_mb}m")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", log_dir)
        .config("spark.eventLog.compress", "false")  # parsed as plain JSON
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    build_fixture(spark, fixture)
    sc = spark.sparkContext

    def run(group: str, df_thunk) -> float:
        # One unmeasured pass first. A cold stage's first wave of tasks
        # pays code generation and JIT compilation; with fewer threads
        # than partitions that wave reads as stragglers of a skew-free
        # stage (up to 6.6x the median on 4 cores).
        sc.setJobGroup(f"warmup:{group}", "warmup")
        df_thunk().write.format("noop").mode("overwrite").save()
        sc.setJobGroup(group, group)
        t0 = time.time()
        df_thunk().write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        sc.setJobGroup("idle", "idle")
        print(f"  {group}: {dt:.1f}s")
        return dt

    walls: dict[str, float] = {}
    # the three mitigated queries, unmodified, on the pathological fixture
    for name in (
        "dedup_ngram_jaccard_docs",
        "dedup_minhash_lsh_docs",
        "skew_salted_agg",
    ):
        walls[name] = run(name, lambda n=name: QUERIES[n].spark(spark, fixture))

    # counterfactual A: UNSALTED one-phase groupBy on the same events.
    # Recorded for honesty, NOT asserted worse: map-side partial
    # aggregation already collapses decomposable aggs to ≤|keys| rows per
    # partition, so this measures flat too — see the module docstring.
    ev = spark.read.parquet(os.path.join(fixture, "events.parquet"))
    walls["unsalted_agg_counterfactual"] = run(
        "unsalted_agg_counterfactual",
        lambda: ev.groupBy("event_type").agg(
            F.sum("user_id"), F.min("event_id"), F.max("value"), F.count("*")
        ),
    )

    # hot JOIN key: a 40M-row big side with 30% of rows remapped to ONE
    # key (12M-row hot partition ≈ 14× a cold one's rows), dim side
    # non-broadcastable (hint("merge") models a dim too big to ship).
    # Synthetic range input keeps the leg IO-free so task time measures
    # shuffle+sort+join work, the thing the hot key actually skews. AQE
    # partition coalescing is disabled for THIS PAIR only: locally the
    # cold partitions are far below the advisory size, so coalescing
    # merges them up to the hot one and masks the skew — at 100 TB every
    # partition already exceeds the advisory size and coalescing merges
    # nothing. Skew-join stays ON and honestly declines: a single join
    # KEY cannot be split without replicating the other side, which is
    # exactly what salted_join does ahead of time.
    from steam_data_engineer_project_spark.operators.skew import salted_join

    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    big = spark.range(0, N_JOIN_ROWS, 1, 32).select(
        F.when(F.col("id") % 100 < HOT_FK_FRAC_PCT, F.lit(0))
        .otherwise(F.col("id") % N_JOIN_KEYS)
        .alias("k"),
        (F.col("id") * 7).alias("payload"),
    )
    dim = spark.range(0, N_JOIN_KEYS).select(
        F.col("id").alias("k"),
        F.md5(F.col("id").cast("string")).alias("attr"),
    )
    walls["salted_join_hot_fk"] = run(
        "salted_join_hot_fk",
        lambda: salted_join(big, dim.hint("merge"), ["k"], num_salts=32),
    )
    walls["unsalted_join_counterfactual"] = run(
        "unsalted_join_counterfactual",
        lambda: big.join(dim.hint("merge"), ["k"], "inner"),
    )
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")

    # counterfactual B: NO doc-frequency cap, on a tractable hot set —
    # the clean base corpus plus UNCAPPED_HOT_DOCS planted docs whose
    # appended tail collapses (after per-doc shingle dedup) to ONE shared
    # shingle: its single posting row explodes into ~8M pairs inside ONE
    # task's higher-order-function call while every other task does
    # ordinary work — the exact imbalance the cap exists to prevent. (A
    # multi-word hot sentence spreads its ~10 shingle rows across local
    # tasks and shows up as uniform slowdown instead; one shingle is the
    # faithful one-straggler shape a 1000-task cluster would see.)
    docs = spark.read.parquet(os.path.join(fixture, "documents.parquet"))
    base = docs.filter(
        (F.col("doc_id") % 50_000 >= HOT_LSH_DOCS)
        & (F.col("doc_id") % 100 >= HOT_FRAC_PCT)
    )
    hot = (
        base.limit(UNCAPPED_HOT_DOCS)
        .withColumn("doc_id", F.col("doc_id") + 100_000_000)
        .withColumn(
            "text",
            F.concat(F.col("text"), F.lit(" zqhot zqhot zqhot zqhot")),
        )
    )
    small = base.unionByName(hot)
    walls["ngram_uncapped_counterfactual"] = run(
        "ngram_uncapped_counterfactual",
        lambda: ngram_jaccard_pairs(
            small, "text", "doc_id", n=3, min_shared=2, max_doc_freq=None
        ),
    )

    spark.stop()  # flushes the event log

    groups = parse_event_log(log_dir)
    result = {
        **provenance(OUT),
        "sf_dir": SF_DIR,
        "local_threads": int(cpus),
        "driver_memory_mb": heap_mb,
        "fixture": {
            "hot_shingle_frac_pct": HOT_FRAC_PCT,
            "hot_sentence": HOT_SENTENCE,
            "hot_lsh_docs": HOT_LSH_DOCS,
            "uncapped_hot_docs": UNCAPPED_HOT_DOCS,
            "hot_fk_frac_pct": HOT_FK_FRAC_PCT,
        },
        "stage_filter": {"min_tasks": MIN_TASKS, "min_time_share": MIN_TIME_SHARE},
        "queries": {},
    }
    for grp, wall in walls.items():
        stages = qualifying(groups.get(grp, []))
        result["queries"][grp] = {
            "wall_s": round(wall, 2),
            "worst_ratio": stages[0]["ratio"] if stages else None,
            "stages": stages[:5],
        }
    with open(OUT, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result["queries"], indent=1))
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
