"""Self-check every declared duckdb-oracle query against DuckDB at sf0.01 --
a local replica of the driver's t2 gate.

The comparisons run ONCE, in a session-scoped fixture, through
``harness.sweep`` (the parity_all.py sweep): batch queries on a 4-thread
pool against the one shared SparkSession with per-thread DuckDB
connections, the q_stream_* family in sequence, since streaming queries
own scratch sinks and a state-store conf window a racing twin could
corrupt. Each parametrized test then asserts its own precomputed
result: one test per oracle, with per-query failure attribution.
"""

from __future__ import annotations

import traceback

import pytest

from harness import per_thread_duck, sweep
from weighted_raster_overlay_service_toolbox_spark.queries import ORACLES, QUERIES

from .conftest import SF_ORACLE
from .parity import compare


@pytest.fixture(scope="session")
def parity_results(spark):
    """{query name: list of problem strings (empty == parity)} for every
    oracle-backed query, computed once for the whole session."""
    duck = per_thread_duck(SF_ORACLE)

    def run_one(name: str) -> list[str]:
        try:
            return compare(spark, duck(), QUERIES[name], ORACLES[name], SF_ORACLE)
        except Exception:
            return [traceback.format_exc(limit=3)]

    return sweep(run_one, sorted(ORACLES))


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_parity(name, parity_results):
    problems = parity_results[name]
    assert not problems, f"{name}: " + "; ".join(problems)


def test_every_query_runs(spark):
    """Rows-only queries (no oracle) must at least execute and return
    rows."""
    counts = sweep(
        lambda name: QUERIES[name](spark, SF_ORACLE).count(),
        [n for n in QUERIES if n not in ORACLES],
    )
    for name, n in counts.items():
        assert n >= 0, name
