"""Traced runs: per-layer metrics from outside the program.

Tracing never edits linkgraph. It wraps three of linkgraph's functions
from here (``SuperstepEngine.run``, ``SuperstepEngine.checkpoint`` and
``build.assign_vertex_ids``), tags every Spark job with the program, pass
and superstep that submitted it (a Spark local property, which the event
log records with each job), and after the session stops joins the event
log's jobs, stages and tasks back onto those tags.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

TAG = "linkbench.tag"
MB = float(1 << 20)

# programs, in the order the workloads run them
PROGRAMS = ("pr_delta", "pr_sql", "pr_sem", "build", "wcc", "lp", "tc")
ENGINE_PROGRAMS = ("pr_delta", "pr_sql", "pr_sem", "wcc", "lp")

_LOWER, _HIGHER = "lower", "higher"


def layer_metric_specs() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better)."""
    specs = [("session.start_s", "s", _LOWER), ("inputs.generate_s", "s", _LOWER)]
    for p in ENGINE_PROGRAMS:
        specs += [
            (f"engine.{p}.supersteps", "count", _LOWER),
            (f"engine.{p}.first_superstep_s", "s", _LOWER),
            (f"engine.{p}.superstep_p50_s", "s", _LOWER),
            (f"engine.{p}.tail_superstep_p50_s", "s", _LOWER),
            (f"engine.{p}.jobs_per_superstep", "count", _LOWER),
            (f"engine.{p}.tasks_per_superstep", "count", _LOWER),
            (f"engine.{p}.driver_gap_s", "s", _LOWER),
            (f"engine.{p}.prelude_s", "s", _LOWER),
        ]
    specs.append(("engine.pr_delta.checkpoint_s", "s", _LOWER))
    for p in PROGRAMS:
        specs += [
            (f"shuffle.{p}.write_mb", "MB", _LOWER),
            (f"shuffle.{p}.records", "count", _LOWER),
            (f"executor.{p}.run_s", "s", _LOWER),
            (f"executor.{p}.cpu_s", "s", _LOWER),
            (f"executor.{p}.gc_s", "s", _LOWER),
            (f"executor.{p}.task_skew", "ratio", _LOWER),
        ]
    specs += [
        ("arrow.pr_sem.to_python_mb", "MB", _LOWER),
        ("arrow.pr_sem.from_python_mb", "MB", _LOWER),
        ("pagerank.sem_over_sql", "ratio", _LOWER),
        ("pagerank.pr_sql.edges_per_s", "edges/s", _HIGHER),
        ("pagerank.pr_sem.edges_per_s", "edges/s", _HIGHER),
        ("pagerank.pr_delta.active_vertex_rounds", "count", _LOWER),
        ("pagerank.pr_delta.solve_s", "s", _LOWER),
        ("build.build_graph_s", "s", _LOWER),
        ("build.assign_vertex_ids_s", "s", _LOWER),
        ("build.pages_per_s", "pages/s", _HIGHER),
        ("build.edges", "count", _HIGHER),
        ("arrow.build.to_python_mb", "MB", _LOWER),
        ("arrow.build.from_python_mb", "MB", _LOWER),
        ("wcc.solve_s", "s", _LOWER),
        ("labelprop.solve_s", "s", _LOWER),
        ("labelprop.jobs_per_superstep", "count", _LOWER),
        ("triangles.solve_s", "s", _LOWER),
        ("memory.jvm_peak_mb", "MB", _LOWER),
        ("memory.python_peak_mb", "MB", _LOWER),
    ]
    return specs


class Tracer:
    """Spans recorded by the benchmark around its calls into linkgraph.

    ``enabled=False`` makes every method a no-op, so the untraced run goes
    through the same code without tags, wrappers or event log."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.program = None
        self.pass_no = 0
        self.spans: list[dict] = []          # one per program call
        self.engine_calls: list[dict] = []   # one per SuperstepEngine.run
        self.checkpoints: list[dict] = []
        self.assign_ids: list[dict] = []
        self._undo: list = []

    def attach(self, spark) -> None:
        if not self.enabled:
            return
        self.sc = spark.sparkContext
        from linkgraph import build
        from linkgraph.engine import SuperstepEngine

        tracer = self
        run, checkpoint, assign = SuperstepEngine.run, SuperstepEngine.checkpoint, build.assign_vertex_ids

        def traced_run(engine, initial_state, step, max_iters, should_stop=None, **kw):
            def tagged_step(state, iteration):
                tracer._tag(f"ss:{iteration}")
                return step(state, iteration)

            try:
                result = run(engine, initial_state, tagged_step, max_iters, should_stop, **kw)
            finally:
                tracer._tag("prelude")
            tracer.engine_calls.append(
                {"program": tracer.program, "pass": tracer.pass_no, "metrics": list(result.metrics)}
            )
            return result

        def traced_checkpoint(engine, state, iteration, seconds):
            tracer._tag(f"ckpt:{iteration}")
            t0 = time.monotonic()
            try:
                return checkpoint(engine, state, iteration, seconds)
            finally:
                tracer.checkpoints.append(
                    {"program": tracer.program, "pass": tracer.pass_no,
                     "wall": time.monotonic() - t0}
                )
                tracer._tag(f"ss:{iteration}")

        def traced_assign(*args, **kw):
            t0 = time.monotonic()
            try:
                return assign(*args, **kw)
            finally:
                tracer.assign_ids.append({"pass": tracer.pass_no, "wall": time.monotonic() - t0})

        SuperstepEngine.run = traced_run
        SuperstepEngine.checkpoint = traced_checkpoint
        build.assign_vertex_ids = traced_assign
        self._undo = [
            lambda: setattr(SuperstepEngine, "run", run),
            lambda: setattr(SuperstepEngine, "checkpoint", checkpoint),
            lambda: setattr(build, "assign_vertex_ids", assign),
        ]

    def detach(self) -> None:
        for undo in self._undo:
            undo()
        self._undo = []

    def _tag(self, phase: str) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(TAG, f"{self.program}|{self.pass_no}|{phase}")

    @contextlib.contextmanager
    def span(self, program: str, pass_no: int):
        """Around one program call and the materialisation of its output."""
        if not self.enabled:
            yield
            return
        self.program, self.pass_no = program, pass_no
        self._tag("prelude")
        t0 = time.monotonic()
        try:
            yield
        finally:
            self.spans.append({"program": program, "pass": pass_no, "wall": time.monotonic() - t0})
            self.sc.setLocalProperty(TAG, None)
            self.program = None


# ------------------------------------------------------------ event log

def read_event_log(event_dir: str) -> list[dict]:
    """All events of the (single) application logged under ``event_dir``."""
    files = []
    for root, _, names in os.walk(event_dir):
        files += [os.path.join(root, n) for n in names if not n.startswith(".")]
    # rolling logs are named events_<index>_<app>; order by that index
    def index(path: str) -> tuple:
        parts = os.path.basename(path).split("_")
        return (int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0, path)

    events = []
    for path in sorted(files, key=index):
        with open(path) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


class _Job:
    def __init__(self, tag: tuple, start: int):
        self.tag = tag
        self.start = start
        self.end = start
        self.stages: list[int] = []


def _jobs_and_tasks(events: list[dict]):
    jobs: dict[int, _Job] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = {}   # stage id -> task records
    accums: dict[int, dict[str, float]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            raw = (ev.get("Properties") or {}).get(TAG)
            if not raw:
                continue
            program, pass_no, phase = raw.split("|")
            job = _Job((program, int(pass_no), phase), ev["Submission Time"])
            job.stages = list(ev.get("Stage IDs", []))
            jobs[ev["Job ID"]] = job
            for s in job.stages:
                stage_job.setdefault(s, ev["Job ID"])
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].end = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.setdefault(ev["Stage ID"], []).append(
                {
                    "dur": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                    "run": m.get("Executor Run Time", 0),
                    "cpu": m.get("Executor CPU Time", 0),
                    "gc": m.get("JVM GC Time", 0),
                    "sw_bytes": sw.get("Shuffle Bytes Written", 0),
                    "sw_records": sw.get("Shuffle Records Written", 0),
                }
            )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            acc = accums.setdefault(info["Stage ID"], {})
            for a in info.get("Accumulables", []):
                name = a.get("Name")
                if name in ("data sent to Python workers", "data returned from Python workers"):
                    acc[name] = acc.get(name, 0.0) + float(a.get("Value") or 0)
    return jobs, stage_job, tasks, accums


def _busy_ms(jobs: list[_Job]) -> int:
    """Length of the union of the jobs' [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for j in sorted(jobs, key=lambda j: j.start):
        if cur_e is None or j.start > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = j.start, j.end
        else:
            cur_e = max(cur_e, j.end)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _median(xs, default=0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def layer_metrics(tracer: Tracer, events: list[dict], ctx: dict) -> dict[str, float]:
    """Per-layer metrics as medians over the later passes of the run (every
    pass when there was only one). A metric of a program the workload does
    not run reads 0: that program did no work.

    ``ctx`` carries what the benchmark measured itself: session start,
    input generation, |V| and |E| per program, page count, memory peaks."""
    out = {name: 0.0 for name, _, _ in layer_metric_specs()}
    out["session.start_s"] = ctx["session_start_s"]
    out["inputs.generate_s"] = ctx["generate_s"]
    out["memory.jvm_peak_mb"] = ctx["jvm_peak_mb"]
    out["memory.python_peak_mb"] = ctx["python_peak_mb"]

    jobs, stage_job, tasks, accums = _jobs_and_tasks(events)
    passes = sorted({s["pass"] for s in tracer.spans})
    later = [p for p in passes if p > 1] or passes

    def per_pass(fn) -> float:
        return _median(fn(p) for p in later)

    def jobs_of(program, pass_no, phase=None):
        return [j for j in jobs.values()
                if j.tag[0] == program and j.tag[1] == pass_no
                and (phase is None or j.tag[2] == phase)]

    def stages_of(js):
        return [s for j in js for s in j.stages if stage_job.get(s) is not None
                and jobs.get(stage_job[s]) is j]

    def tasks_of(js):
        return [t for s in stages_of(js) for t in tasks.get(s, [])]

    def span_wall(program, pass_no):
        return sum(s["wall"] for s in tracer.spans if s["program"] == program and s["pass"] == pass_no)

    def engine_call(program, pass_no):
        for c in tracer.engine_calls:
            if c["program"] == program and c["pass"] == pass_no:
                return c
        return None

    ran = {s["program"] for s in tracer.spans}
    for p in PROGRAMS:
        if p not in ran:
            continue
        out[f"shuffle.{p}.write_mb"] = per_pass(lambda i: sum(t["sw_bytes"] for t in tasks_of(jobs_of(p, i))) / MB)
        out[f"shuffle.{p}.records"] = per_pass(lambda i: sum(t["sw_records"] for t in tasks_of(jobs_of(p, i))))
        out[f"executor.{p}.run_s"] = per_pass(lambda i: sum(t["run"] for t in tasks_of(jobs_of(p, i))) / 1e3)
        out[f"executor.{p}.cpu_s"] = per_pass(lambda i: sum(t["cpu"] for t in tasks_of(jobs_of(p, i))) / 1e9)
        out[f"executor.{p}.gc_s"] = per_pass(lambda i: sum(t["gc"] for t in tasks_of(jobs_of(p, i))) / 1e3)

        def skew(i, p=p):
            stages = [tasks.get(s, []) for s in stages_of(jobs_of(p, i))]
            stages = [ts for ts in stages if ts]
            if not stages:
                return 1.0
            widest = max(stages, key=lambda ts: (len(ts), sum(t["dur"] for t in ts)))
            durs = [t["dur"] for t in widest]
            return max(durs) / max(statistics.median(durs), 1.0)

        out[f"executor.{p}.task_skew"] = per_pass(skew)

        if p not in ENGINE_PROGRAMS:
            continue
        n_vertices = ctx["vertices"][p]

        def engine_stat(fn, p=p):
            return per_pass(lambda i: fn(engine_call(p, i), i) if engine_call(p, i) else 0.0)

        out[f"engine.{p}.supersteps"] = engine_stat(lambda c, i: len(c["metrics"]))
        out[f"engine.{p}.first_superstep_s"] = engine_stat(lambda c, i: c["metrics"][0]["seconds"])
        out[f"engine.{p}.superstep_p50_s"] = engine_stat(
            lambda c, i: _median(r["seconds"] for r in c["metrics"]))
        active_key = {"pr_delta": "active", "wcc": "changed", "lp": "changed_labels"}.get(p)
        if active_key:
            out[f"engine.{p}.tail_superstep_p50_s"] = engine_stat(
                lambda c, i: _median(r["seconds"] for r in c["metrics"]
                                     if int(r.get(active_key) or 0) < 0.01 * n_vertices))
        out[f"engine.{p}.jobs_per_superstep"] = engine_stat(
            lambda c, i: _median(len(jobs_of(p, i, f"ss:{r['iteration']}")) for r in c["metrics"]))
        out[f"engine.{p}.tasks_per_superstep"] = engine_stat(
            lambda c, i: _median(len(tasks_of(jobs_of(p, i, f"ss:{r['iteration']}"))) for r in c["metrics"]))
        out[f"engine.{p}.driver_gap_s"] = engine_stat(
            lambda c, i: _median(max(r["seconds"] - _busy_ms(jobs_of(p, i, f"ss:{r['iteration']}")) / 1e3, 0.0)
                                 for r in c["metrics"]))

        def prelude(c, i, p=p):
            # the program's span outside its supersteps and checkpoints:
            # partition resolution, layouts, initial state, sem image, and
            # the final materialising aggregate
            ckpt = sum(k["wall"] for k in tracer.checkpoints if k["program"] == p and k["pass"] == i)
            return span_wall(p, i) - sum(r["seconds"] for r in c["metrics"]) - ckpt

        out[f"engine.{p}.prelude_s"] = engine_stat(prelude)

    if "pr_delta" in ran:
        out["engine.pr_delta.checkpoint_s"] = per_pass(
            lambda i: sum(k["wall"] for k in tracer.checkpoints if k["program"] == "pr_delta" and k["pass"] == i))
        out["pagerank.pr_delta.active_vertex_rounds"] = per_pass(
            lambda i: sum(int(r.get("active") or 0) for r in engine_call("pr_delta", i)["metrics"]))
        out["pagerank.pr_delta.solve_s"] = per_pass(lambda i: span_wall("pr_delta", i))
    for p in ("pr_sql", "pr_sem"):
        if p in ran and out[f"engine.{p}.superstep_p50_s"] > 0:
            out[f"pagerank.{p}.edges_per_s"] = ctx["edges"][p] / out[f"engine.{p}.superstep_p50_s"]
    if "pr_sql" in ran and "pr_sem" in ran:
        out["pagerank.sem_over_sql"] = out["engine.pr_sem.superstep_p50_s"] / out["engine.pr_sql.superstep_p50_s"]
    for p in ("pr_sem", "build"):
        if p in ran:
            def arrow(i, name, p=p):
                return sum(accums.get(s, {}).get(name, 0.0) for s in stages_of(jobs_of(p, i))) / MB
            out[f"arrow.{p}.to_python_mb"] = per_pass(lambda i: arrow(i, "data sent to Python workers"))
            out[f"arrow.{p}.from_python_mb"] = per_pass(lambda i: arrow(i, "data returned from Python workers"))
    if "build" in ran:
        out["build.build_graph_s"] = per_pass(lambda i: span_wall("build", i))
        out["build.assign_vertex_ids_s"] = per_pass(
            lambda i: sum(a["wall"] for a in tracer.assign_ids if a["pass"] == i))
        out["build.pages_per_s"] = ctx["pages"] / out["build.build_graph_s"]
        out["build.edges"] = ctx["edges"]["build"]
    if "wcc" in ran:
        out["wcc.solve_s"] = per_pass(lambda i: span_wall("wcc", i))
    if "lp" in ran:
        out["labelprop.solve_s"] = per_pass(lambda i: span_wall("lp", i))
        out["labelprop.jobs_per_superstep"] = per_pass(
            lambda i: len([j for j in jobs_of("lp", i) if j.tag[2].startswith("ss:")])
            / max(len(engine_call("lp", i)["metrics"]), 1))
    if "tc" in ran:
        out["triangles.solve_s"] = per_pass(lambda i: span_wall("tc", i))
    return out
