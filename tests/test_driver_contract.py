"""Driver-contract invariants (no Spark session needed).

The driver grades every ``queries()`` entry against ``oracle_sql()``; a
query silently missing its oracle gets only the weaker rows-only check.
This locks the registry: every query must either carry an oracle or be on
the EXPLICIT rows-only allowlist (each with a documented reason), so new
operators can't drift in unchecked.
"""

from __future__ import annotations

# Queries deliberately without a DuckDB oracle — each needs a reason.
ROWS_ONLY_ALLOWLIST = {
    # ANN with recall < 1 by design (bucketed LSH + IVF probing, merged)
    "knn_ann",
    # synthesized input (pages generator) — no shared table for DuckDB
    "pages_pipeline_top10",
}


def test_registry_is_exactly_driver_window_sized():
    """The driver checks the first ~50 entries in dict order; a registry
    larger than that silently drops queries from the correctness gate
    (round-2 lesson: 9 of 59 never got a row)."""
    from linkgraph.driver_queries import QUERIES

    assert len(QUERIES) == 50, f"registry must stay at 50 entries, got {len(QUERIES)}"


def test_every_query_is_oracled_or_allowlisted():
    from linkgraph.driver_queries import ORACLE_SQL, QUERIES

    missing = set(QUERIES) - set(ORACLE_SQL) - ROWS_ONLY_ALLOWLIST
    assert not missing, (
        f"queries without oracle_sql and not allowlisted: {sorted(missing)}"
    )
    stale = ROWS_ONLY_ALLOWLIST - set(QUERIES)
    assert not stale, f"allowlist entries no longer registered: {sorted(stale)}"
    oracled_anyway = ROWS_ONLY_ALLOWLIST & set(ORACLE_SQL)
    assert not oracled_anyway, (
        f"allowlisted queries now HAVE oracles — drop them from the "
        f"allowlist: {sorted(oracled_anyway)}"
    )


# Registry entries DROPPED to fit the 50-entry driver window: each dropped
# kernel's semantics must stay covered by a named pytest, so a future
# removal can't silently orphan a kernel. Maps dropped coverage -> the test
# function (in tests/) that now carries it.
DROPPED_QUERY_COVERAGE = {
    # graph_lp_1round: 1-round LP is round 1 of the 3-round unrolled oracle
    "graph_lp_1round": ("test_algos.py", "test_lp_exact"),
    # graph_pagerank_delta: V4 delta/frontier kernel ≡ V1 within 1e-12 at
    # θ=0 (so transitively covered by graph_pagerank_5iter's oracle), plus
    # a golden-convergence + frontier-shrinkage gate at θ=1e-9
    "graph_pagerank_delta": (
        "test_algos.py", "test_pagerank_delta_theta0_equals_power_iteration",
    ),
}


def test_dropped_queries_have_named_pytest_coverage():
    import pathlib

    here = pathlib.Path(__file__).parent
    for dropped, (fname, test_name) in DROPPED_QUERY_COVERAGE.items():
        src = (here / fname).read_text()
        assert f"def {test_name}(" in src, (
            f"{dropped} was dropped from the registry relying on "
            f"{fname}::{test_name}, which no longer exists"
        )


def test_oracle_sql_has_no_orphans():
    from linkgraph.driver_queries import ORACLE_SQL, QUERIES

    orphans = set(ORACLE_SQL) - set(QUERIES)
    assert not orphans, f"oracle_sql for unregistered queries: {sorted(orphans)}"


def test_entry_module_exposes_contract():
    import __spark_entry__ as m

    q = m.queries()
    o = m.oracle_sql()
    assert len(q) >= 50 and set(o) <= set(q)
