"""Skew handling: salted aggregation + vertex-cut hub splitting.

BASELINE.json north_star names both techniques explicitly:

- **Salted aggregation** (SURVEY.md G6): a single hot reduce key (a hub
  dst) funnels all its partial sums into one reducer. Two-phase fix: first
  aggregate on (key, salt) — salt derived from the *other* side of the edge
  so it is deterministic — then aggregate on key. Works for any
  decomposable agg (sum/min/count are all decomposable).
- **Vertex-cut splitting** (SURVEY.md §4.3, mirroring FlashGraph's vertical
  partitioning of giant edge lists, FAST'15 §3.6): a hub src whose edge
  list exceeds a threshold is split across partitions; its vertex state is
  replicated to each split. Implemented inside the CSR kernel
  (linkgraph/algos/pagerank.py) by routing hub edges to per-cut partitions
  and exploding the hub's state row over the cuts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.conventions import SALT_BUCKETS


def salted_agg(
    df: DataFrame,
    key: str,
    value: str,
    agg: str = "sum",
    salt_from: str | None = None,
    buckets: int = SALT_BUCKETS,
    hot_keys: DataFrame | None = None,
) -> DataFrame:
    """Two-phase aggregation over ``key`` with a deterministic salt.

    ``agg`` ∈ {sum, min, max, count}; for count the second phase sums the
    per-salt counts. Result columns: (key, value) — same as the direct
    ``groupBy(key).agg(...)`` it replaces.

    ``hot_keys`` (single column named ``key``, small/broadcastable) switches
    on **hybrid** salting: only rows whose key is in the hot set are salted;
    every other row gets salt 0. Salting all keys defeats map-side partial
    aggregation for the whole table (each map task emits up to ``buckets``
    partial rows per key instead of 1) and adds a phase-2 shuffle of
    ``buckets × |keys|`` rows — measured 4x slower than the direct agg on a
    hub-heavy graph. With the hot set, the tail combines exactly as in the
    direct plan and phase 2 shuffles ~|keys| + buckets × |hot| rows.
    """
    salt_col = (
        F.pmod(F.xxhash64(F.col(salt_from)), F.lit(buckets))
        if salt_from
        else F.pmod(F.xxhash64(F.col(value)), F.lit(buckets))
    )
    drop = []
    if hot_keys is not None:
        # dedup defensively: a duplicate hot key would multiply its rows
        # through the left join and silently double the aggregate (internal
        # callers pass groupBy-derived sets, but the contract must not
        # depend on that); the hot set is small by construction
        hot = hot_keys.select(F.col(key)).dropDuplicates([key]).withColumn(
            "__hot", F.lit(True)
        )
        df = df.join(F.broadcast(hot), key, "left")
        salt_col = F.when(F.col("__hot").isNotNull(), salt_col).otherwise(F.lit(0))
        drop = ["__hot"]
    fns = {"sum": F.sum, "min": F.min, "max": F.max, "count": F.count}
    first = fns[agg]
    second = F.sum if agg in ("sum", "count") else first
    partial = (
        df.withColumn("__salt", salt_col)
        .drop(*drop)
        .groupBy(key, "__salt")
        .agg(first(value).alias(value))
    )
    return partial.groupBy(key).agg(second(value).alias(value))


# NOTE: vertex-cut hub splitting has exactly one implementation, inside
# the sem kernel's routing (pagerank._routed_edges: hub edges to
# per-cut partitions by hash(dst_id), hub state replicated per cut). A
# standalone split_hub_sources() duplicate used to live here with zero
# callers and zero tests — deleted so the cut-assignment rule cannot
# silently diverge between two copies.
