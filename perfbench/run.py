#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload marts --seed 1 --seconds 10 --trace 0

One closed-loop client runs the workload's registry queries one after
another, in an order fixed by the seed, over a staged copy of the base
tables whose rows the seed permutes. A run:

1. sets up fresh ``SETUPS`` times: first in child processes that then
   exit, last in this process for the measured session. A fresh set-up
   imports the package, launches the JVM, starts the session and stages
   the seeded input; ``setup_s`` is the median;
2. runs the cold pass, the first pass of the session, in the listed query
   order. It collects every query's result to the driver; after the pass,
   untimed, a child process compares each result with the query's oracle;
3. runs warm passes through the noop sink until ``--seconds`` have passed
   and at least ``MIN_PASSES`` ran. The first half of them is warm-up;
   ``warm_pass_s`` and ``cpu_s`` are medians over the second half.

With ``--trace 1`` each warm pass is followed by a traced pass. A traced
pass records spans (pass, query, build and exec, wrapped layer calls) with
the query's Spark jobs, stages and Catalyst phases attached. The run
reports per-layer metrics as means per traced pass over the second half,
each layer's self time, and the tracing overhead: the median traced pass
minus the median untraced pass. Spans are written under ``.perfbench/``
when the run ends.

Every metric is printed with its unit. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``,
which holds the metrics ``BENCHMARK.json`` lists for the mode.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "steam_data_engineer_project_spark"
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
#: fresh set-ups per run; ``setup_s`` is their median. Each costs about
#: 8 s of a run's 50 s on a 4-core host.
SETUPS = 2
#: fewest warm passes per run: the first half is warm-up
MIN_PASSES = 2


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", default="sf0.01", help="base tables under perfbench/data")
    return p.parse_args(argv)


def stage_input(base_dir: str, out_dir: str, seed: int) -> None:
    """Copy every base table to ``out_dir`` with its rows permuted by
    ``seed``: the same rows and one file per table, so a correct query
    answers the same for every seed."""
    import numpy as np
    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    for name in TABLES:
        table = pq.read_table(os.path.join(base_dir, f"{name}.parquet"))
        rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
        pq.write_table(
            table.take(rng.permutation(table.num_rows)),
            os.path.join(out_dir, f"{name}.parquet"),
        )


def _second_half(values: list) -> list:
    return values[len(values) // 2 :]


class Bench:
    def __init__(self, args, queries: list[str], work: str) -> None:
        self.args = args
        # The cold pass keeps the listed order: whichever query runs first
        # pays most of the JVM's warm-up (18 s or 24 s of marts' cold pass
        # by order alone). Every later pass runs in the seeded order.
        self.listed = list(queries)
        self.names = list(queries)
        random.Random(args.seed).shuffle(self.names)
        self.work = work
        self.base_dir = os.path.join(HERE, "data", args.scale)
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failures = 0
        self.failed: dict[str, str] = {}
        self.spark = None
        self.sf_dir = None

    def setup(self) -> None:
        """Import the package, start the session and stage the seeded
        input: what a fresh run pays before its first query."""
        from steam_data_engineer_project_spark import queries
        from steam_data_engineer_project_spark.session import get_spark

        self.q = queries
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                # C1 only: with C2 a run this short measures the C2 compile
                # ramp, whose length and outcome vary from run to run. The
                # serial collector sizes the heap from live data alone, where
                # G1 grows it when pauses run long (as they do on a busy host).
                # A fixed young generation keeps the heap's touched size from
                # following when collections happen to run.
                "spark.driver.extraJavaOptions": (
                    "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -Xmn256m -XX:-UsePerfData"
                    f" -Djava.io.tmpdir={os.environ['TMPDIR']}"
                ),
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.sf_dir = os.path.join(self.work, "input")
        stage_input(self.base_dir, self.sf_dir, self.args.seed)

    def setup_in_child(self, i: int) -> float:
        """Seconds of one fresh set-up made by a child process, which then
        stops its JVM and exits."""
        work = os.path.join(self.work, f"setup-{i}")
        os.makedirs(work)
        out = _child(
            "from perfbench.run import setup_child; setup_child()",
            self.args.scale, str(self.args.seed), work,
        )
        shutil.rmtree(work, ignore_errors=True)
        return float(out.splitlines()[-1])

    def _query(self, name: str):
        self.attempted += 1
        return self.q.QUERIES[name].spark(self.spark, self.sf_dir)

    def _fail(self, name: str, err) -> None:
        why = err if isinstance(err, str) else f"{type(err).__name__}: {err}"[:300]
        self.failures += 1
        self.failed.setdefault(name, why)
        _log(f"FAIL {name}: {why}")

    def cold_pass(self) -> tuple[float, dict]:
        """The first pass, in the listed order; returns its time and each
        query's collected result (None for a query that raised)."""
        results = {}
        t0 = time.perf_counter()
        for name in self.listed:
            try:
                results[name] = self._query(name).toPandas()
            except Exception as e:  # noqa: BLE001 — counted, the loop goes on
                results[name] = None
                self._fail(name, e)
        return time.perf_counter() - t0, results

    def check(self, results: dict) -> None:
        """Compare the collected results with their oracles in a child
        process, so the oracle's memory stays out of ``peak_rss_mb``."""
        path = os.path.join(self.work, "results.pkl")
        with open(path, "wb") as f:
            pickle.dump({n: r for n, r in results.items() if r is not None}, f)
        out = _child(
            "from perfbench.oracle import main; main()",
            self.base_dir, os.path.join(ROOT, ".perfbench", "oracle"), path,
        )
        os.remove(path)
        for name, why in json.loads(out.splitlines()[-1]).items():
            if why is not None:
                self._fail(name, why)

    def warm_pass(self) -> float:
        t0 = time.perf_counter()
        for name in self.names:
            t_q = time.perf_counter()
            try:
                self._query(name).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 — counted, the loop goes on
                self._fail(name, e)
            _log(f"  {name}: {time.perf_counter() - t_q:.2f} s")
        return time.perf_counter() - t0

    def traced_pass(self, layers) -> float:
        t0 = time.perf_counter()
        layers.begin_pass()
        for name in self.names:
            try:
                layers.run_query(name, lambda n=name: self._query(n))
            except Exception as e:  # noqa: BLE001 — counted, the loop goes on
                self._fail(name, e)
        layers.end_pass()
        return time.perf_counter() - t0

    def run(self) -> dict:
        from . import proc

        tree = proc.ProcessTree()
        cpu0 = proc.cpu_times()
        setup_s = [self.setup_in_child(i) for i in range(SETUPS - 1)]
        t0 = time.perf_counter()
        tracer = None
        if self.args.trace:
            from .trace import Tracer, install_layer_wrappers

            tracer = Tracer()
            install_layer_wrappers(tracer)
        self.setup()
        setup_s.append(time.perf_counter() - t0)
        _log(f"set-ups: {', '.join(f'{s:.2f}' for s in setup_s)} s")

        cold, results = self.cold_pass()
        _log(f"cold pass: {cold:.2f} s")
        self.check(results)
        del results

        layers = None
        if tracer is not None:
            from .layers import LayerRecorder

            layers = LayerRecorder(self.spark, tracer, tree, self.cores)
        warm, cpu, traced = [], [], []
        t_warm = time.perf_counter()
        while time.perf_counter() - t_warm < self.args.seconds or len(warm) < MIN_PASSES:
            c0 = tree.cpu()["total"]
            warm.append(self.warm_pass())
            cpu.append(tree.cpu()["total"] - c0)
            if layers is not None:
                traced.append(self.traced_pass(layers))
            _log(f"warm pass {len(warm)}: {warm[-1]:.2f} s"
                 + (f", traced {traced[-1]:.2f} s" if traced else ""))

        out = {
            "host": {
                "cores": self.cores,
                "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
                "pyspark": __import__("pyspark").__version__,
                "steal_pct": round(proc.steal_pct(cpu0, proc.cpu_times()), 3),
                "mem_total_mb": round(proc.mem_total_mb()),
            },
            # name: (value, samples, unit)
            "e2e": {
                "setup_s": (statistics.median(setup_s), len(setup_s), "s"),
                "cold_pass_s": (cold, 1, "s"),
                "warm_pass_s": (statistics.median(_second_half(warm)), len(_second_half(warm)), "s"),
                "cpu_s": (statistics.median(_second_half(cpu)), len(_second_half(cpu)), "s"),
                "peak_rss_mb": (tree.peak_rss_mb(), 1, "MB"),
            },
        }
        if layers is not None:
            per_layer = layers.metrics(len(warm) // 2)
            per_layer["trace.overhead_s"] = (
                statistics.median(_second_half(traced)) - statistics.median(_second_half(warm))
            )
            out["per_layer"] = per_layer
            out["spans"] = tracer.spans
        return out

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        jvm = getattr(gateway, "proc", None)
        gateway.shutdown()
        if jvm is not None:
            jvm.stdin.close()
            try:
                jvm.wait(timeout=60)
            except Exception:  # noqa: BLE001 — the JVM ignored EOF
                jvm.kill()
                jvm.wait()


def _child(code: str, *argv: str) -> str:
    """Run ``code`` in a child Python process with ``argv`` and return its
    standard output. The child is stopped if this process is interrupted."""
    child = subprocess.Popen(
        [sys.executable, "-c", code, *argv], cwd=ROOT, stdout=subprocess.PIPE, text=True
    )
    try:
        out, _ = child.communicate()
    finally:
        if child.poll() is None:
            child.terminate()
            child.wait()
    if child.returncode != 0:
        raise RuntimeError(f"child process exited with {child.returncode}: {code}")
    return out


def setup_child() -> None:
    """Entry of a set-up child process, whose arguments are the scale, the
    seed and a work directory: one fresh set-up, its seconds printed."""
    scale, seed, work = sys.argv[1:]
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    bench = Bench(argparse.Namespace(scale=scale, seed=int(seed)), [], work)
    try:
        t0 = time.perf_counter()
        bench.setup()
        print(time.perf_counter() - t0)
    finally:
        bench.close()


def _prepare_env(work: str) -> None:
    """Size the session to the host and keep every write inside ``work``."""
    import tempfile

    from .proc import mem_total_mb

    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = f"{max(1, min(4, int(mem_total_mb() / 1024 / 4)))}g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None


def _report(result: dict, bench: Bench, spec: dict, traced: bool) -> dict:
    """Print the readable report and return the final JSON object."""
    print("host " + json.dumps(result["host"]))
    print(f"fail_ratio {bench.failures / max(1, bench.attempted):.4f} ratio "
          f"({bench.failures} of {bench.attempted} query runs; failed: {sorted(bench.failed)})")
    metrics = {}
    if traced:
        for m in spec["per_layer"]:
            value = result["per_layer"].get(m["name"], 0.0)
            metrics[m["name"]] = {"value": value, "unit": m["unit"]}
            print(f"{m['name']} {value:.4f} {m['unit']}")
    else:
        # every end-to-end metric is printed; BENCHMARK.json lists the ones
        # steady enough on a shared host to carry a bound
        for name, (value, n, unit) in result["e2e"].items():
            print(f"{name} {value:.4f} {unit} (n={n})")
        for m in spec["end_to_end"]:
            metrics[m["name"]] = {"value": result["e2e"][m["name"]][0], "unit": m["unit"]}
    return {
        "correct": not bench.failed,
        "attempted": bench.attempted,
        "failed": bench.failures,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    for path in (os.path.join(ROOT, PACKAGE, "queries.py"), os.path.join(ROOT, "__spark_entry__.py")):
        if not os.path.isfile(path):
            _log(f"missing {path}: run from a checkout of the repository")
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    if args.workload not in workloads:
        _log(f"unknown workload {args.workload!r}; known: {sorted(workloads)}")
        return 2
    if not os.path.isdir(os.path.join(HERE, "data", args.scale)):
        _log(f"no base tables for scale {args.scale!r}")
        return 2

    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    scratch = os.path.join(ROOT, ".scratch")
    before = set(os.listdir(scratch)) if os.path.isdir(scratch) else set()
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work)
    _prepare_env(work)
    bench = Bench(args, workloads[args.workload]["queries"], work)
    try:
        result = bench.run()
    finally:
        try:
            bench.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            # the package keeps per-invocation work dirs under <root>/.scratch
            if os.path.isdir(scratch):
                for name in set(os.listdir(scratch)) - before:
                    shutil.rmtree(os.path.join(scratch, name), ignore_errors=True)
    if args.trace:
        spans_path = os.path.join(
            ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}-{os.getpid()}.json"
        )
        with open(spans_path, "w") as f:
            json.dump(result.pop("spans"), f)
        print(f"spans {spans_path}")
    print(json.dumps(_report(result, bench, spec, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from perfbench.run import main as _main

    sys.exit(_main())
