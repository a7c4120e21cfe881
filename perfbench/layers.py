"""Per-layer metrics of traced passes.

``LayerRecorder.run_query`` runs one registry query inside ``query``,
``build`` and ``exec`` spans and a Spark job group, then attaches to the
query span its jobs and stages (from the status store) and the Catalyst
phase times of the plans its actions ran; the ``catalyst.*`` metrics are
those of the last, the noop write that serves the query's result.
``end_pass`` folds the pass into one dict of per-layer metrics;
``metrics`` averages them over the traced passes it is given.
"""

from __future__ import annotations

from collections import defaultdict

from .trace import ServedPlans, SparkStatus, union_s


class LayerRecorder:
    def __init__(self, spark, tracer, tree, cores: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.tree = tree
        self.cores = cores
        self.status = SparkStatus(spark)
        self.plans = ServedPlans(spark)
        self.passes: list[dict] = []

    def begin_pass(self) -> None:
        self.status.new_jobs()  # drop the jobs of the untraced pass before
        self.tracer.enabled = self.plans.enabled = True
        self.cur: dict[str, float] = defaultdict(float)
        self.cpu0 = self.tree.cpu()
        self.pass_span = self.tracer.open("pass")

    def run_query(self, name: str, make_df) -> None:
        t = self.tracer
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        qspan = t.open("query", query=name)
        df = None
        wrote = False
        try:
            build = t.open("build")
            try:
                df = make_df()
            finally:
                t.close(build)
            ex = t.open("exec")
            try:
                df.write.format("noop").mode("overwrite").save()
                wrote = True
            finally:
                t.close(ex)
        finally:
            t.close(qspan)
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._attach(qspan, build, ex if df is not None else None, wrote)

    def _attach(self, qspan, build, ex, wrote: bool) -> None:
        cur = self.cur
        jobs = self.status.new_jobs()
        served = self.plans.drain()
        stages = [s for j in jobs for s in j["stages"]]
        qspan["attrs"]["jobs"] = jobs
        cur["queries.build_s"] += build["end"] - build["start"]
        if ex is not None:
            cur["queries.exec_s"] += ex["end"] - ex["start"]
        cur["queries.build_jobs"] += sum(
            1 for j in jobs if j["submitted"] is not None and j["submitted"] <= build["end"]
        )
        cur["spark.jobs"] += len(jobs)
        cur["spark.stages"] += len(stages)
        for key, metric in (
            ("tasks", "spark.tasks"),
            ("run_s", "spark.executor_run_s"),
            ("cpu_s", "spark.executor_cpu_s"),
            ("gc_s", "spark.gc_s"),
            ("shuffle_write_mb", "spark.shuffle_write_mb"),
            ("shuffle_records", "spark.shuffle_records"),
            ("input_mb", "spark.input_mb"),
            ("spill_mb", "spark.spill_mb"),
        ):
            cur[metric] += sum(s[key] for s in stages)
        busy = [
            (max(s["start"], qspan["start"]), min(s["end"], qspan["end"]))
            for s in stages
            if s["start"] is not None and s["end"] is not None
        ]
        wall = qspan["end"] - qspan["start"]
        cur["spark.idle_gap_s"] += wall - union_s([b for b in busy if b[1] > b[0]])
        qspan["attrs"]["plans"] = served
        if wrote and served:
            for phase in ServedPlans.PHASES:
                cur[f"catalyst.{phase}_s"] += served[-1][phase]

    def end_pass(self) -> None:
        t = self.tracer
        t.close(self.pass_span)
        t.enabled = self.plans.enabled = False
        cur = self.cur
        cpu1 = self.tree.cpu()
        cur["driver.py_cpu_s"] = cpu1["driver_py"] - self.cpu0["driver_py"]
        cur["pyworker.cpu_s"] = max(0.0, cpu1["pyworker"] - self.cpu0["pyworker"])
        wall = self.pass_span["end"] - self.pass_span["start"]
        cur["spark.slot_busy_ratio"] = cur["spark.executor_run_s"] / (wall * self.cores)
        cur["spark.cached_mb_after"] = self.status.cached_mb()
        self._span_metrics(t.spans[self.pass_span["id"] :])
        self.passes.append(dict(cur))

    def _span_metrics(self, spans: list[dict]) -> None:
        """Layer totals (outermost call per span name), call counts and
        self times (duration minus the part its child spans cover)."""
        cur = self.cur
        spans = [s for s in spans if s["end"] is not None]
        by_id = {s["id"]: s for s in spans}
        children = defaultdict(list)
        for s in spans:
            children[s["parent"]].append(s)
        for s in spans:
            dur = s["end"] - s["start"]
            covered = union_s([
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children[s["id"]]
                if min(c["end"], s["end"]) > max(c["start"], s["start"])
            ])
            if s["name"] in ("build", "exec"):
                cur[f"self.queries_{s['name']}_s"] += dur - covered
            if not s["attrs"].get("layer"):
                continue
            name = s["name"]
            family = name.split(".")[0]
            cur[f"self.{family}_s"] += dur - covered
            parent = by_id.get(s["parent"])
            outermost = True
            while parent is not None and parent["attrs"].get("layer"):
                if parent["name"] == name:
                    outermost = False
                    break
                parent = by_id.get(parent["parent"])
            if not outermost:
                continue
            if family == "operators":
                cur[f"{name}.s"] += dur
                cur[f"{name}.calls"] += 1
            else:
                cur[f"{name}_s"] += dur

    def metrics(self, first: int) -> dict[str, float]:
        """Mean of every per-layer metric over the traced passes from
        index ``first`` on."""
        passes = self.passes[first:]
        keys = {k for p in passes for k in p}
        return {k: sum(p.get(k, 0.0) for p in passes) / len(passes) for k in keys}
