"""Multi-JVM scaling evidence: local-cluster[N,c,m] at two cluster sizes.

The north rule's criterion is throughput scaling efficiency >= 0.8 from N
to 4N *executors*. ``local[N]`` scales threads inside one JVM, which hides
executor-boundary semantics entirely; ``local-cluster[n,c,m]`` launches n
REAL executor JVMs (separate heaps, executor-side Python workers, torrent
broadcast, shuffle over the block manager, ``--py-files`` distribution) on
one box — the closest available approximation of a multi-executor cluster
in this sandbox, and the mode that exercises everything single-JVM local
mode fakes. Levels: 1 executor vs 4 executors, c cores each; the job
(input, partitions, supersteps) is IDENTICAL at both levels.

Jobs are launched exactly as the north rule mandates:
``spark-submit --master local-cluster[n,c,m] --py-files linkgraph.zip
jobs/bench_pagerank.py ...`` — executor Python workers import linkgraph
from the shipped zip, not from the driver's cwd.

A JVM shuffle control (groupBy-sum with the kernel's own shape) runs at
both levels in the same session to document the single-box host ceiling
the kernels should be read against.

Appends a "Multi-JVM evidence" section to BENCH/BASELINE.md (the local[N]
protocol section above it is written by bench_scaling.py and untouched).

Usage: python jobs/bench_cluster.py [--exec-cores 8] [--vertices 1000000]
       [--edges 50000000] [--iters 10] [--repeats 2]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def master_str(n_exec: int, cores: int, mem_mb: int) -> str:
    return f"local-cluster[{n_exec},{cores},{mem_mb}]"


# shuffle-dir media (r5 "shuffle-medium deployment rule"): tmpfs is the
# protocol default (cross-session comparability with the recorded rows);
# "disk" routes shuffle to the real-disk /tmp, the arm that removed the
# tmpfs-RAM-contention excursions in the LP 200M diagnostic. Both dirs are
# harness-PRIVATE (purge must never touch the shared /dev/shm/spark-local
# every get_spark session routes through).
_MEDIUM_DIRS = {
    "tmpfs": "/dev/shm/spark-local-benchlc",
    "disk": "/tmp/spark-local-benchlc-disk",
}
SHUFFLE_MEDIUM = "tmpfs"


def child_env(master: str, n_cores: int) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_MASTER=master,  # keeps get_spark in agreement with the CLI
        SPARK_GRAFT_CPUS=str(n_cores),
    )
    # In local-cluster mode the standalone worker OVERRIDES spark.local.dir
    # with SPARK_LOCAL_DIRS, so the session builder's tmpfs routing is
    # silently lost — set it in the worker env instead.
    d = _MEDIUM_DIRS[SHUFFLE_MEDIUM]
    if SHUFFLE_MEDIUM != "tmpfs" or (
        os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)
    ):
        env["SPARK_LOCAL_DIRS"] = d
    return env


def purge_local_dirs() -> None:
    """Remove leftover shuffle/spill files from a killed earlier run.
    tmpfs files are RESIDENT RAM: stale ones from an OOM-killed attempt
    would recreate the very memory-overcommit regime the per-executor
    memory default exists to avoid, silently biasing the next measurement.
    The dirs are private to this harness (not the shared
    /dev/shm/spark-local), and the harness runs strictly serially, so
    nothing live uses them."""
    import shutil

    for d in _MEDIUM_DIRS.values():
        if os.path.isdir(d):
            for name in os.listdir(d):
                shutil.rmtree(os.path.join(d, name), ignore_errors=True)


def run_pagerank(n_exec: int, args, kernel: str) -> dict:
    """One measured worker run. ``kernel``: sql/sem -> the PageRank worker;
    wcc/wcc_star/lp/tc/delta -> jobs/bench_program.py (the other
    north-rule programs + the V4 delta-PageRank convergence run). tc runs on a smaller graph (--tc-edges): triangle counting
    on the power-law bench graph is superlinear in edges (wedge join) and
    ~100s/run at 8 cores already at 5M edges — the scaling ratio only
    needs the same input at both levels, not the same input across
    programs."""
    master = master_str(n_exec, args.exec_cores, args.exec_mem_mb)
    env = child_env(master, n_exec * args.exec_cores)
    cmd = [
        "spark-submit",
        "--master", master,
        "--py-files", os.path.join(REPO, "linkgraph.zip"),
        "--driver-memory", "16g",
        "--conf", f"spark.executor.memory={args.exec_mem_mb}m",
        "--conf", "spark.ui.enabled=false",
    ]
    if kernel in ("sql", "sem"):
        cmd += [
            os.path.join(REPO, "jobs", "bench_pagerank.py"),
            "--vertices", str(args.vertices),
            "--edges", str(args.edges),
            "--iters", str(args.iters),
            "--kernel", kernel,
            "--partitions", str(args.partitions),
        ]
    else:
        edges = args.tc_edges if kernel == "tc" else args.edges
        cmd += [
            os.path.join(REPO, "jobs", "bench_program.py"),
            "--program", kernel,
            "--vertices", str(args.vertices),
            "--edges", str(edges),
            "--iters", str(args.lp_iters),
            "--runs", str(args.runs),
            "--partitions", str(args.partitions),
        ]
    if kernel == "sem":
        # stable el2fg image, shared across repeats AND levels (identical
        # fingerprint: same edges/partitions/hub_threshold at both) — the
        # image is built by the first run and reused after, and its
        # manifest activates the host-local compiled-block store so a
        # worker placement move costs an mmap load, not a parquet decode +
        # index rebuild. Keyed by the job shape so a changed graph never
        # reuses a stale image (the fingerprint manifest would refuse it
        # anyway — this just avoids pointless refusals).
        layout = os.path.join(
            "/tmp",
            f"lg_benchlc_sem_{args.vertices}_{args.edges}_{args.partitions}",
        )
        cmd += ["--layout-dir", layout]
    last_err = None
    for attempt in range(2):
        purge_local_dirs()
        out = subprocess.run(cmd, env=env, capture_output=True, text=True, cwd=REPO)
        if out.returncode == 0:
            for line in reversed(out.stdout.strip().splitlines()):
                if line.startswith("{"):
                    return json.loads(line)
        err_lines = (out.stderr or "").strip().splitlines()
        last_err = "\n".join(err_lines[-60:])
        print(f"[{kernel} {master}] attempt {attempt + 1} failed:\n{last_err}",
              file=sys.stderr, flush=True)
    raise RuntimeError(f"bench_pagerank failed twice ({kernel}, {master})")


def run_shuffle_control(n_exec: int, args) -> float:
    """Same-session host ceiling: JVM groupBy-sum at this cluster size."""
    master = master_str(n_exec, args.exec_cores, args.exec_mem_mb)
    code = f"""
import time
from pyspark.sql import SparkSession, functions as F
spark = (SparkSession.builder.master("{master}").appName("shuffle-control-lc")
    .config("spark.ui.enabled","false")
    .config("spark.driver.memory","16g")
    .config("spark.executor.memory","{args.exec_mem_mb}m")
    .config("spark.sql.shuffle.partitions","{args.partitions}")
    .config("spark.sql.adaptive.enabled","false")
    .config("spark.ui.showConsoleProgress","false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
def job(n):
    df = (spark.range(0, n, numPartitions={args.partitions})
        .select(F.pmod(F.xxhash64("id"), F.lit(1_000_000)).alias("k"),
                (F.col("id") % 97).alias("v"))
        .groupBy("k").agg(F.sum("v")))
    df.count()
job(10_000_000)  # warmup: codegen + JIT + executor registration
best = None
for _ in range(3):
    t0 = time.monotonic(); job(400_000_000); dt = time.monotonic() - t0
    best = dt if best is None or dt < best else best
print(best)
"""
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, check=True,
        env=child_env(master, n_exec * args.exec_cores),
    )
    return float(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--exec-cores", type=int, default=8)
    # 8g per executor, FIXED across levels: "add executors" means adding
    # identical machines, and on this 128 GiB box 4 x 24g heaps + 16g
    # driver + tmpfs shuffle OVERCOMMIT physical RAM — measured page-
    # reclaim storms degraded supersteps 6s -> 40s and produced the
    # eff=0.11 artifact this default replaces.
    ap.add_argument("--exec-mem-mb", type=int, default=8192)
    ap.add_argument("--vertices", type=int, default=1_000_000)
    ap.add_argument("--edges", type=int, default=50_000_000)
    # 20 so the trimmed mean reflects steady state: 4-JVM JIT + cache
    # warm-up spans ~4 supersteps, and crawl-scale runs are 50+.
    ap.add_argument("--iters", type=int, default=20)
    # all six north-program jobs are accepted; the default keeps the
    # original PageRank pair (r3/r4 evidence), pass
    # --kernels wcc,wcc_star,lp,tc for the round-5 extension, or delta
    # for the V4 convergence run
    ap.add_argument("--kernels", default="sql,sem")
    ap.add_argument("--lp-iters", type=int, default=8)
    ap.add_argument("--runs", type=int, default=3,
                    help="whole-run repeats in-session for wcc/wcc_star/tc")
    ap.add_argument("--tc-edges", type=int, default=2_000_000)
    # 2 task waves at the LARGER level (4x8 slots): one-wave 32 was a
    # measured straggler cliff (3.79 vs 2.69 s/iter at 4x8); fixed at
    # both levels, sized for the largest — the real-cluster rule.
    ap.add_argument("--partitions", type=int, default=64)
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument(
        "--shuffle-medium", choices=("tmpfs", "disk"), default="tmpfs",
        help="shuffle-dir medium for ALL runs incl. the control (r5 "
        "deployment rule: disk is the representative medium once "
        "per-round shuffle volume competes with free RAM)",
    )
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH", "BASELINE.md"))
    args = ap.parse_args()
    global SHUFFLE_MEDIUM
    SHUFFLE_MEDIUM = args.shuffle_medium

    # fresh zip so executors import the code being measured
    subprocess.run([sys.executable, os.path.join(REPO, "tools", "package.py")],
                   check=True, capture_output=True)

    n_lo, n_hi = 1, 4
    results: dict[str, dict] = {}
    for kernel in args.kernels.split(","):
        lo_runs = [run_pagerank(n_lo, args, kernel) for _ in range(args.repeats)]
        hi_runs = [run_pagerank(n_hi, args, kernel) for _ in range(args.repeats)]
        lo = min(lo_runs, key=lambda r: r["trimmed_mean_sec_per_iter"])
        hi = min(hi_runs, key=lambda r: r["trimmed_mean_sec_per_iter"])
        eff = (lo["trimmed_mean_sec_per_iter"] / hi["trimmed_mean_sec_per_iter"]) / 4.0
        eff_min = (lo["steady_sec_per_iter"] / hi["steady_sec_per_iter"]) / 4.0
        results[kernel] = {
            "lo": lo, "hi": hi,
            "lo_repeats_trimmed": [r["trimmed_mean_sec_per_iter"] for r in lo_runs],
            "hi_repeats_trimmed": [r["trimmed_mean_sec_per_iter"] for r in hi_runs],
            "efficiency": round(eff, 3),
            "efficiency_min_based": round(eff_min, 3),
        }
        print(f"[{kernel}] 1x{args.exec_cores}={lo['trimmed_mean_sec_per_iter']}s/iter "
              f"4x{args.exec_cores}={hi['trimmed_mean_sec_per_iter']}s/iter eff={eff:.2f}",
              flush=True)

    sh_lo = run_shuffle_control(n_lo, args)
    sh_hi = run_shuffle_control(n_hi, args)
    sh_eff = (sh_lo / sh_hi) / 4.0
    print(f"[shuffle-control] 1exec={sh_lo:.2f}s 4exec={sh_hi:.2f}s eff={sh_eff:.2f}")

    section = render_md(args, results, (sh_lo, sh_hi, sh_eff))
    with open(args.out, "a") as f:
        f.write(section)
    print(f"appended multi-JVM section to {args.out}")


def render_md(args, results, shuffle_ctrl) -> str:
    sh_lo, sh_hi, sh_eff = shuffle_ctrl
    c = args.exec_cores
    lines = [
        "",
        f"## Multi-JVM evidence: local-cluster executors (1 -> 4) — {', '.join(results)}"
        + (f" [{args.shuffle_medium} shuffle]" if args.shuffle_medium != "tmpfs" else ""),
        "",
        "(unit per row: sec/superstep for sql/sem/lp — identical work each",
        "superstep; sec/WHOLE-RUN for wcc/wcc_star/tc/delta — their",
        "frontiers or edge lists contract across rounds, so per-superstep",
        "numbers would compare different work. Either way the two levels",
        "divide like for like.)",
        "",
        "Same job and input as the protocol above, but on REAL executor",
        f"JVMs: `local-cluster[1,{c},{args.exec_mem_mb}]` vs",
        f"`local-cluster[4,{c},{args.exec_mem_mb}]` — separate heaps,",
        "executor-side Python workers fed via `spark-submit --py-files",
        "linkgraph.zip`, torrent broadcast, block-manager shuffle between",
        "JVMs. This exercises every executor-boundary mechanism that",
        "single-JVM `local[N]` mode fakes (the sem layout-reachability",
        "guard, worker-side sem image reads, broadcast of hub/pivot tables),",
        "while still sharing one box's memory bandwidth — so the matching",
        "single-box ceiling (shuffle control, same session) is reported",
        "alongside. Executor scaling 1 -> 4 at fixed cores/executor is the",
        "literal N -> 4N executors shape of the north rule.",
        "",
        f"- |V|={args.vertices:,}, ~|E|={args.edges:,}, {args.iters} supersteps,",
        f"  {args.partitions} partitions at both levels, repeats={args.repeats}",
        "  (best trimmed mean per level gates, same estimator as above).",
        "",
        "| kernel | executors | min s/superstep | median | trimmed mean | edges/sec (min) |",
        "| --- | --- | --- | --- | --- | --- |",
    ]
    for kernel, r in results.items():
        for side, label in (("lo", f"1 x {c} cores"), ("hi", f"4 x {c} cores")):
            d = r[side]
            lines.append(
                f"| {kernel} | {label} | {d['steady_sec_per_iter']} | "
                f"{d['median_sec_per_iter']} | {d['trimmed_mean_sec_per_iter']} | "
                f"{d['edges_per_sec']:,.0f} |"
            )
    lines += [
        "",
        "| job | efficiency (trimmed mean) | efficiency (min) | vs same-session shuffle ctrl |",
        "| --- | --- | --- | --- |",
    ]
    for kernel, r in results.items():
        rel = r["efficiency"] / sh_eff if sh_eff else float("nan")
        name = f"pagerank/{kernel}" if kernel in ("sql", "sem") else kernel
        lines.append(
            f"| {name} (1->4 executors) | {r['efficiency']} | "
            f"{r['efficiency_min_based']} | {rel:.2f} |"
        )
    lines.append(
        f"| shuffle control (multi-JVM, same partitions) | {sh_eff:.2f} | — | "
        f"(ceiling: {sh_lo:.1f}s -> {sh_hi:.1f}s) |"
    )
    lines += ["", "Raw per-iteration JSON:", "", "```json"]
    for kernel, r in results.items():
        lines.append(json.dumps({"kernel": kernel, "mode": "local-cluster", **r}))
    lines.append(json.dumps({"shuffle_control_lc": {
        "lo_sec": round(sh_lo, 2), "hi_sec": round(sh_hi, 2),
        "efficiency": round(sh_eff, 3)}}))
    lines += ["```", ""]
    return "\n".join(lines)


if __name__ == "__main__":
    main()
