"""t5: checkpoint/resume — interrupted run == uninterrupted run.

BASELINE.json north_rule: "resumable from checkpoint with per-partition
lineage + metrics".
"""

from __future__ import annotations

import json
import os

import numpy as np

from linkgraph.algos import pagerank
from linkgraph.engine import SuperstepEngine
from linkgraph.synth import WIKI_VOTE_N


def _ranks(res):
    pdf = res.state.select("id", "rank").toPandas().sort_values("id")
    return pdf["rank"].to_numpy()


def test_resume_matches_uninterrupted(spark, wiki_edges_df, wiki_vertices_df, tmp_path):
    full = pagerank(spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=10, eps=0.0)

    ckpt = str(tmp_path / "ckpt")
    eng = SuperstepEngine(spark, ckpt_dir=ckpt, checkpoint_every=3)
    partial = pagerank(
        spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=6, eps=0.0, engine=eng
    )
    assert partial.iterations == 6
    # "crash" after iteration 6 (checkpointed at 3 and 6); resume to 10
    eng2 = SuperstepEngine(spark, ckpt_dir=ckpt, checkpoint_every=3)
    resumed = pagerank(
        spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=10, eps=0.0,
        engine=eng2, resume=True,
    )
    assert resumed.resumed_from == 6
    # checkpoint re-read changes the partition layout, which changes float
    # summation order in the gather groupBy — bit-exactness is not guaranteed,
    # 1e-12 is (acceptance tolerance is 1e-6)
    assert np.allclose(_ranks(full), _ranks(resumed), rtol=0, atol=1e-12)


def test_wcc_star_resume_matches_uninterrupted(spark, wiki_edges_df, wiki_vertices_df, tmp_path):
    """Resume also holds when the checkpointed state is an EDGE LIST (the
    star-contraction kernel), not a per-vertex table: interrupting after a
    checkpointed contraction round and resuming yields the identical
    component assignment."""
    from linkgraph.algos import wcc_star

    import pytest

    full = wcc_star(spark, wiki_edges_df, vertices=wiki_vertices_df)

    ckpt = str(tmp_path / "ckpt_star")
    eng = SuperstepEngine(spark, ckpt_dir=ckpt, checkpoint_every=2)
    # the truncated run checkpoints it=2 and then REFUSES to project a
    # component assignment from the still-contracting edge list (a
    # non-star-forest state would emit conflicting duplicate rows) — the
    # raise IS the interruption being simulated here
    with pytest.raises(RuntimeError, match="contraction fixpoint"):
        wcc_star(
            spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=2, engine=eng
        )
    eng2 = SuperstepEngine(spark, ckpt_dir=ckpt, checkpoint_every=2)
    resumed = wcc_star(
        spark, wiki_edges_df, vertices=wiki_vertices_df, engine=eng2, resume=True
    )
    assert resumed.resumed_from == 2
    a = full.state.toPandas().sort_values("id")["comp"].to_numpy()
    b = resumed.state.toPandas().sort_values("id")["comp"].to_numpy()
    assert (a == b).all()


def test_checkpoint_retention_prunes_old_and_resumes(
    spark, wiki_edges_df, wiki_vertices_df, tmp_path
):
    """keep_checkpoints=R: a long run retains only the newest R ``it=N``
    dirs (crawl-scale runs must not accumulate O(run) storage) and resume
    from the newest survivor still matches the uninterrupted run."""
    ckpt = str(tmp_path / "ckpt_ret")
    eng = SuperstepEngine(spark, ckpt_dir=ckpt, checkpoint_every=2, keep_checkpoints=2)
    pagerank(
        spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=8, eps=0.0, engine=eng
    )
    # checkpoints written at 2,4,6,8 — only the newest two survive
    its = sorted(n for n in os.listdir(ckpt) if n.startswith("it="))
    assert its == ["it=6", "it=8"]

    eng2 = SuperstepEngine(spark, ckpt_dir=ckpt, checkpoint_every=2)
    resumed = pagerank(
        spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=10, eps=0.0,
        engine=eng2, resume=True,
    )
    assert resumed.resumed_from == 8
    full = pagerank(spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=10, eps=0.0)
    assert np.allclose(_ranks(full), _ranks(resumed), rtol=0, atol=1e-12)

    # regression: a FRESH run over the reused dir (which now holds stale
    # higher-numbered it=6..10 checkpoints) must clear them at start and
    # keep its OWN fresh checkpoints — prune once sorted stale dirs above
    # the fresh it=2 and deleted the checkpoint the run had just written
    # (FAILED_READ_FILE crash on the next superstep)
    eng_fresh = SuperstepEngine(spark, ckpt_dir=ckpt, checkpoint_every=2, keep_checkpoints=2)
    pagerank(
        spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=4, eps=0.0,
        engine=eng_fresh,
    )
    assert sorted(n for n in os.listdir(ckpt) if n.startswith("it=")) == [
        "it=2", "it=4",
    ]

    # keep_checkpoints=0 disables retention entirely
    ckpt_all = str(tmp_path / "ckpt_all")
    eng3 = SuperstepEngine(spark, ckpt_dir=ckpt_all, checkpoint_every=2, keep_checkpoints=0)
    pagerank(
        spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=6, eps=0.0, engine=eng3
    )
    assert sorted(n for n in os.listdir(ckpt_all) if n.startswith("it=")) == [
        "it=2", "it=4", "it=6",
    ]


def test_checkpoint_meta_lineage(spark, wiki_edges_df, wiki_vertices_df, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    eng = SuperstepEngine(spark, ckpt_dir=ckpt, checkpoint_every=2)
    pagerank(
        spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=4, eps=0.0, engine=eng
    )
    meta_path = os.path.join(ckpt, "it=4", "_meta.json")
    assert os.path.exists(meta_path)
    meta = json.load(open(meta_path))
    assert meta["iteration"] == 4
    assert meta["rows"] == WIKI_VOTE_N
    assert all({"partition", "rows", "checksum"} <= set(p) for p in meta["partitions"])
    # metrics JSONL: one row per superstep. eps=0 (fixed-iteration) runs
    # skip the convergence action entirely, so max_delta is absent by
    # contract — only timing is guaranteed here.
    lines = [json.loads(line) for line in open(os.path.join(ckpt, "metrics.jsonl"))]
    assert [r["iteration"] for r in lines] == [1, 2, 3, 4]
    assert all("seconds" in r for r in lines)
    assert all("max_delta" not in r for r in lines)


def test_metrics_carry_max_delta_when_converging(
    spark, wiki_edges_df, wiki_vertices_df, tmp_path
):
    """eps > 0 runs the convergence action; every metrics row has max_delta."""
    ckpt = str(tmp_path / "ckpt")
    eng = SuperstepEngine(spark, ckpt_dir=ckpt, checkpoint_every=2)
    pagerank(
        spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=3, eps=1e-12, engine=eng
    )
    lines = [json.loads(line) for line in open(os.path.join(ckpt, "metrics.jsonl"))]
    assert len(lines) >= 1
    assert all("max_delta" in r and "seconds" in r for r in lines)


def test_observed_stop_adds_no_spark_jobs(spark, wiki_edges_df, wiki_vertices_df):
    """ObservedStop rides the superstep's own localCheckpoint
    materialization: LP with per-round telemetry must launch EXACTLY as
    many Spark jobs as LP without it (the round-3 separate-action form
    cost one O(V) aggregation job per round — measured ~12% of lp_3iter)."""
    from linkgraph.algos import label_propagation

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    # untracked warmup: materializes the session-cached fixture edges so
    # neither measured arm pays the one-time caching jobs
    label_propagation(spark, wiki_edges_df, vertices=wiki_vertices_df, iters=1)

    def jobs_for(group: str, telemetry: bool) -> int:
        sc.setJobGroup(group, group)
        try:
            res = label_propagation(
                spark, wiki_edges_df, vertices=wiki_vertices_df, iters=2,
                telemetry=telemetry,
            )
            if telemetry:
                assert all("changed_labels" in m for m in res.metrics)
        finally:
            sc.setJobGroup(None, None)
        return len(tracker.getJobIdsForGroup(group))

    n_on = jobs_for("lp_obs_on", True)
    n_off = jobs_for("lp_obs_off", False)
    assert n_on == n_off, (
        f"telemetry launched {n_on - n_off} extra Spark jobs (want 0)"
    )


def test_sem_block_manifest_guards_missing_layout(tmp_path):
    """A block the layout-time manifest marks edge-bearing must RAISE when
    its file is unreachable (driver-local layout on a cluster, deleted
    layout) — silently returning an empty block would zero its
    contributions. Edge-less blocks never touch the filesystem."""
    import numpy as np
    import pytest

    from linkgraph.algos.pagerank import _sem_block

    # manifest says no edges: empty block, no IO (dir does not even exist)
    blk = _sem_block(token=999001, part=3, layout_dir=str(tmp_path), has_edges=False)
    assert all(len(a) == 0 for a in blk)
    # manifest says edges exist but the file is gone: loud failure
    with pytest.raises(FileNotFoundError, match="part=7"):
        _sem_block(token=999002, part=7, layout_dir=str(tmp_path), has_edges=True)
    # and a real block round-trips through the worker cache
    import pyarrow as pa
    import pyarrow.parquet as pq

    part_dir = tmp_path / "part=5"
    part_dir.mkdir()
    pq.write_table(
        pa.table({"src_id": [1, 1, 2], "dst_id": [2, 3, 3]}), part_dir / "x.parquet"
    )
    src_uniq, src_inv, dst_uniq, dst_inv = _sem_block(
        token=999003, part=5, layout_dir=str(tmp_path), has_edges=True
    )
    assert src_uniq.tolist() == [1, 2] and dst_uniq.tolist() == [2, 3]
    assert np.bincount(dst_inv).tolist() == [1, 2]


def test_resume_ignores_incomplete_checkpoint(spark, wiki_edges_df, wiki_vertices_df, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    eng = SuperstepEngine(spark, ckpt_dir=ckpt, checkpoint_every=2)
    pagerank(
        spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=4, eps=0.0, engine=eng
    )
    # simulate a checkpoint killed mid-write: directory without _meta.json
    os.makedirs(os.path.join(ckpt, "it=5"))
    latest = eng.latest_checkpoint()
    assert latest is not None and latest[0] == 4


def test_scc_phase_resume_matches_uninterrupted(spark, tmp_path):
    """SCC phase-level resume: a run stopped after phase 1 (max_phases hit
    -> raise, with the completed phase durably checkpointed) resumes and
    produces the identical labeling. Graph = two 2-cycles joined by a
    bridge — phase 1 assigns {0,1}, phase 2 {2,3} (no trims fire)."""
    import pytest

    from linkgraph.algos import scc

    edges = [(0, 1), (1, 0), (1, 2), (2, 3), (3, 2)]
    df = spark.createDataFrame(edges, "src_id long, dst_id long")
    full = scc(spark, df)
    want = {r["id"]: r["comp"] for r in full.state.collect()}
    assert want == {0: 0, 1: 0, 2: 2, 3: 2}

    ckpt = str(tmp_path / "scc_ckpt")
    with pytest.raises(RuntimeError, match="max_phases"):
        scc(spark, df, max_phases=1, ckpt_dir=ckpt)
    assert os.path.exists(os.path.join(ckpt, "scc_phase=1", "_meta.json"))

    resumed = scc(spark, df, ckpt_dir=ckpt, resume=True)
    got = {r["id"]: r["comp"] for r in resumed.state.collect()}
    assert got == want
    # and the resume actually skipped phase 1
    assert any(m.get("stage") == "resumed" for m in resumed.metrics)

    # a DIFFERENT graph must refuse the stale checkpoint (fingerprint)
    other = spark.createDataFrame([(7, 8), (8, 7)], "src_id long, dst_id long")
    with pytest.raises(RuntimeError, match="different edge set"):
        scc(spark, other, ckpt_dir=ckpt, resume=True)
    # and a FRESH run with the same dir purges old phases, then completes
    fresh = scc(spark, other, ckpt_dir=ckpt)
    assert {r["id"]: r["comp"] for r in fresh.state.collect()} == {7: 7, 8: 7}


def test_fresh_run_rotates_default_metrics_file(spark, tmp_path):
    """A fresh run over a reused ckpt_dir deletes stale it=N checkpoint
    dirs; the telemetry JSONL beside them must follow the same
    refuse-stale rule — appending run 2 after run 1 would interleave
    duplicate iteration numbers with contradictory timings, so any
    consumer attributes run 1's supersteps to run 2. Only the DEFAULT
    (ckpt_dir-derived) file is rotated: an explicit metrics_path may be a
    deliberately shared log and is left append-only."""
    from pyspark.sql import functions as F

    def step(state, it):
        return state.withColumn("rank", F.col("rank") + F.lit(1.0))

    def lines(path):
        with open(path) as f:
            return [json.loads(ln) for ln in f if ln.strip()]

    ckpt = str(tmp_path / "ckpt")
    state0 = spark.range(10).select("id", F.lit(0.0).alias("rank"))
    for _ in range(2):  # second fresh run must NOT append after the first
        eng = SuperstepEngine(spark, ckpt_dir=ckpt, checkpoint_every=10)
        eng.run(state0, step, max_iters=3)
    recs = lines(os.path.join(ckpt, "metrics.jsonl"))
    assert [r["iteration"] for r in recs] == [1, 2, 3], recs

    # explicit metrics_path: appends across runs, never rotated
    shared = str(tmp_path / "shared.jsonl")
    for _ in range(2):
        eng = SuperstepEngine(
            spark, ckpt_dir=str(tmp_path / "ckpt2"), metrics_path=shared,
            checkpoint_every=10,
        )
        eng.run(state0, step, max_iters=2)
    assert [r["iteration"] for r in lines(shared)] == [1, 2, 1, 2]


def test_pagerank_rejects_salted_on_non_sql_kernels(spark, wiki_edges_df):
    """salted=True only has an implementation on the sql kernel; the
    sem kernel carries its own skew mitigation (hub vertex-cut).
    Silently ignoring the flag would make a salted-vs-plain benchmark on
    those kernels measure two identical runs — refuse instead."""
    import pytest

    with pytest.raises(ValueError, match="salted"):
        pagerank(spark, wiki_edges_df, max_iters=1, kernel="sem", salted=True)
