"""linkgraph benchmark: one workload, one seed, in this fresh process.

    python3 linkbench/run.py --workload pagerank --seed 1 --seconds 10 --trace 0

Run from the repository root. Set-up generates the workload's inputs from
the seed, writes them as parquet tables and starts a local Spark session;
then whole passes of the workload run until ``--seconds`` have passed
(at least three passes), each pass's outputs checked against numpy
replicas. The last line of standard output is one JSON object: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything the run writes lives in one per-run directory
under ``linkbench/.runs/``, removed at exit together with every process
the run started.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import procs

# process start, taken before the heavy imports below so that set-up time
# counts the interpreter's own start-up as a user's job would pay it
PROCESS_START = time.monotonic() - procs.process_start_seconds_ago()

import numpy as np  # noqa: E402

import inputs  # noqa: E402
import reference as ref  # noqa: E402
import tracing  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_PASSES = 3        # the first, then two for solve_s's median
DRIVER_HEAP = "2g"    # explicit, far below the host's memory
THETA = 1e-4          # pagerank_delta activation threshold
POWER_SUPERSTEPS = 3  # power iteration: supersteps per kernel
LP_ITERS = 10         # label propagation's conventional iteration count

# input sizes; see README.md for how they were chosen
PR_GRAPH = {"n_vertices": 30_000, "n_edges": 250_000, "dangling_frac": 0.7}
CRAWL = {"n_pages": 2_000, "n_sites": 40, "hub_share": 0.2}
# partition counts for a 4-core host; see README.md
BUILD_PARTITIONS = 4
SHUFFLE_PARTITIONS = 8


def materialize(df) -> None:
    """One aggregate over every output column: forces each column to be
    computed (a bare count would let Catalyst prune them away)."""
    from pyspark.sql import functions as F

    df.agg(F.count(F.lit(1)), F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))).collect()


class Stopwatch:
    """Accumulates the timed parts of one pass."""

    def __init__(self):
        self.total = 0.0

    def __enter__(self):
        self._t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.total += time.monotonic() - self._t0
        return False


# ---------------------------------------------------------------- workloads

class PageRank:
    """On one seeded power-law digraph: pagerank with eps = 0 for a fixed
    superstep count, sql then sem, then pagerank_delta (sql kernel,
    θ = 1e-4) to an empty frontier with resumable parquet checkpoints."""

    programs = ("pr_sql", "pr_sem", "pr_delta")

    def __init__(self, seed: int, run_dir: str):
        self.run_dir = run_dir
        self.edges = inputs.powerlaw_digraph(seed, **PR_GRAPH)
        self.path = os.path.join(run_dir, "inputs", "edges")
        inputs.write_edges(self.edges, self.path, files=4)

    def sizes(self) -> dict:
        n = len(np.unique(self.edges))
        return {"vertices": {p: n for p in self.programs},
                "edges": {p: len(self.edges) for p in self.programs}}

    def prepare(self) -> None:
        self.graph = ref.Graph(self.edges)
        self.expected_power = ref.power_iteration(self.graph, POWER_SUPERSTEPS)
        self.expected_delta = ref.fixpoint(self.graph)

    def run_pass(self, spark, tracer, watch, pass_no) -> list[str]:
        return self._power(spark, tracer, watch, pass_no) + self._delta(spark, tracer, watch, pass_no)

    def _power(self, spark, tracer, watch, pass_no) -> list[str]:
        from linkgraph.algos import pagerank

        problems, ranks = [], {}
        for program, kernel in (("pr_sql", "sql"), ("pr_sem", "sem")):
            with watch, tracer.span(program, pass_no):
                res = pagerank(spark, spark.read.parquet(self.path), eps=0.0,
                               max_iters=POWER_SUPERSTEPS, kernel=kernel)
                materialize(res.state)
            out = res.state.select("id", "rank").toPandas()
            if res.iterations != POWER_SUPERSTEPS:
                problems.append(f"{program}: ran {res.iterations} supersteps, not {POWER_SUPERSTEPS}")
            ids, rank = out["id"].to_numpy(), out["rank"].to_numpy()
            problems += ref.check_ranks(self.graph, ids, rank, self.expected_power, 1e-9, program)
            ranks[kernel] = ref.align(self.graph, ids, rank)
        if ranks["sql"] is not None and ranks["sem"] is not None:
            problems += ref.check_ranks(self.graph, self.graph.ids, ranks["sem"], ranks["sql"],
                                        1e-9, "pr_sem vs pr_sql")
        return problems

    def _delta(self, spark, tracer, watch, pass_no) -> list[str]:
        from linkgraph.algos import pagerank_delta
        from linkgraph.engine import SuperstepEngine

        with watch, tracer.span("pr_delta", pass_no):
            engine = SuperstepEngine(spark, ckpt_dir=os.path.join(self.run_dir, "ckpt"))
            res = pagerank_delta(
                spark, spark.read.parquet(self.path), threshold=THETA, max_iters=500,
                engine=engine,
            )
            materialize(res.state)
        out = res.state.select("id", "rank").toPandas()
        return ref.check_delta(
            self.graph, out["id"].to_numpy(), out["rank"].to_numpy(),
            int(res.metrics[-1].get("active") or 0), res.iterations, THETA, self.expected_delta,
        )


class CrawlComponents:
    """build_graph over a crawl pages table, then wcc, label_propagation
    and triangle_counts on the built graph."""

    programs = ("build", "wcc", "lp", "tc")

    def __init__(self, seed: int, run_dir: str):
        self.crawl = inputs.crawl_pages(seed, **CRAWL)
        self.path = os.path.join(run_dir, "inputs", "pages")
        inputs.write_pages(self.crawl.pages, self.path, files=4)

    def sizes(self) -> dict:
        n, e = len(self.crawl.urls), len(self.crawl.edges)
        return {"vertices": {p: n for p in self.programs},
                "edges": {p: e for p in self.programs},
                "pages": CRAWL["n_pages"]}

    def prepare(self) -> None:
        g = ref.Graph(self.crawl.edges, np.arange(len(self.crawl.urls)))
        self.graph = g
        self.components = ref.min_label_components(g)
        self.labels = ref.label_propagation(g, LP_ITERS)
        self.triangles = ref.triangle_counts(g)

    def run_pass(self, spark, tracer, watch, pass_no) -> list[str]:
        from linkgraph.algos import label_propagation, triangle_counts, wcc
        from linkgraph.build import build_graph

        g = self.graph
        with watch, tracer.span("build", pass_no):
            built = build_graph(spark.read.parquet(self.path), partitions=BUILD_PARTITIONS)
            materialize(built.vertices)
            materialize(built.edges)
        try:
            edges = built.edges.toPandas().to_numpy()
            problems = ref.check_edges(edges, self.crawl.edges)
            urls = built.vertices.select("id", "url").toPandas().sort_values("id")
            if urls["url"].tolist() != self.crawl.urls or urls["id"].tolist() != list(range(g.n)):
                problems.append("build: vertex ids are not the urls' ranks in sorted order")

            with watch, tracer.span("wcc", pass_no):
                res = wcc(spark, built.edges, vertices=built.vertices)
                materialize(res.state)
            out = res.state.select("id", "comp").toPandas()
            problems += ref.check_exact(g, out["id"], out["comp"], self.components, "wcc")

            with watch, tracer.span("lp", pass_no):
                res = label_propagation(spark, built.edges, vertices=built.vertices, iters=LP_ITERS)
                materialize(res.state)
            out = res.state.select("id", "label").toPandas()
            problems += ref.check_exact(g, out["id"], out["label"], self.labels, "lp")

            with watch, tracer.span("tc", pass_no):
                tri = triangle_counts(spark, built.edges, vertices=built.vertices).persist()
                materialize(tri)
            out = tri.toPandas()
            tri.unpersist()
            problems += ref.check_triangles(g, out["id"], out["tri"], self.triangles)
        finally:
            built.vertices.unpersist()
            built.edges.unpersist()
        return problems


WORKLOADS = {
    "pagerank": PageRank,
    "crawl-components": CrawlComponents,
}


# -------------------------------------------------------------- the run

def start_spark(run_dir: str, traced: bool):
    from linkgraph.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions": (
            f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={run_dir}/tmp"
        ),
        "spark.local.dir": f"{run_dir}/local",
        "spark.sql.warehouse.dir": f"{run_dir}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{run_dir}/events",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="linkbench", master=f"local[{cores}]",
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM: the gateway JVM exits when its
    stdin closes, and its Python workers follow it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    run_dir = os.path.join(HERE, ".runs", f"{workload}-{seed}-{os.getpid()}")
    for sub in ("tmp", "local", "events", "inputs"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    # everything Spark, py4j and the sem kernel put in temp space goes here;
    # the JVM and its Python workers inherit these
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)

    sampler = procs.TreeSampler()
    tracer = tracing.Tracer(traced)
    spark = None
    attempted = failed = wrong = 0
    walls: list[float] = []
    try:
        t0 = time.monotonic()
        wl = WORKLOADS[workload](seed, run_dir)
        generate_s = time.monotonic() - t0
        sampler.start()
        t0 = time.monotonic()
        spark = start_spark(run_dir, traced)
        session_start_s = time.monotonic() - t0
        setup_s = time.monotonic() - PROCESS_START
        jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
        tracer.attach(spark)
        wl.prepare()

        t_measure = time.monotonic()
        while attempted < MIN_PASSES or time.monotonic() - t_measure < seconds:
            attempted += 1
            watch = Stopwatch()
            try:
                problems = wl.run_pass(spark, tracer, watch, attempted)
            except Exception:
                traceback.print_exc()
                failed += 1
                continue
            if problems:
                print(f"pass {attempted} wrong: " + "; ".join(problems), file=sys.stderr)
                failed += 1
                wrong += 1
                continue
            walls.append(watch.total)
        sampler.sample()
        jvm_peak_mb = procs.hwm_mb(jvm_pid)
    finally:
        tracer.detach()
        if spark is not None:
            stop_spark(spark)
        sampler.stop()
        leftovers = sampler.reap(timeout=30)
        if leftovers:
            print(f"killed processes that outlived the session: {leftovers}", file=sys.stderr)
        events = tracing.read_event_log(os.path.join(run_dir, "events")) if traced else []
        shutil.rmtree(run_dir, ignore_errors=True)

    if len(walls) < 2:
        raise RuntimeError(f"only {len(walls)} of {attempted} passes succeeded")
    if traced:
        ctx = dict(wl.sizes(), session_start_s=session_start_s, generate_s=generate_s,
                   jvm_peak_mb=jvm_peak_mb, python_peak_mb=sampler.python_peak_mb)
        units = {name: unit for name, unit, _ in tracing.layer_metric_specs()}
        values = tracing.layer_metrics(tracer, events, ctx)
        metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "first_pass_s": {"value": walls[0], "unit": "s"},
            "solve_s": {"value": statistics.median(walls[1:]), "unit": "s"},
            "peak_rss_mb": {"value": sampler.peak_mb, "unit": "MB"},
        }
    print(f"passes: {[round(w, 3) for w in walls]}", file=sys.stderr)
    return {"correct": wrong == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "linkgraph", "__init__.py")):
        print(f"linkgraph not found under {ROOT}: run from a checkout of the repository",
              file=sys.stderr)
        return 2
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        try:
            os.rmdir(os.path.join(HERE, ".runs"))
        except OSError:
            pass  # absent, or another run's directory is still in it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
