"""Driver-contract invariants: the registry the driver consumes must be
internally consistent before any query even runs."""

from __future__ import annotations

import inspect


def test_registry_contract():
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()
    # every oracle belongs to a query
    assert not set(o) - set(q), sorted(set(o) - set(q))
    # flagship present
    assert "q_agg_group" in q
    # all callables are invocable as fn(spark, sf_dir): exactly two
    # required positional params; extra knobs (e.g. q_entity_resolution's
    # max_block lane cap, r10) must be keyword-defaulted so the driver's
    # 2-arg call binds the REGISTRY default, never an unset knob
    for name, fn in q.items():
        sig = inspect.signature(fn)
        params = list(sig.parameters.values())
        assert len(params) >= 2, f"{name} has params {[p.name for p in params]}"
        for p in params[:2]:
            assert p.default is inspect.Parameter.empty, (
                f"{name}: {p.name} must be required"
            )
        for p in params[2:]:
            assert p.default is not inspect.Parameter.empty, (
                f"{name}: extra param {p.name} must carry a default"
            )
    # oracle SQL strings are non-trivial
    for name, sql in o.items():
        assert "SELECT" in sql.upper(), name


def test_driver_window_spans_all_families_and_is_oracle_backed():
    """The driver grades the first 50 registry entries; that window must
    (a) hold every capability family and (b) be fully oracle-backed so
    every graded row can be a hash-match, not a rows-only fallback."""
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()
    window = list(q)[:50]
    assert all(n in o for n in window), [n for n in window if n not in o]
    for family_prefix in ("q_wro_", "q_stream_", "q_agg_", "q_join_",
                          "q_win_", "q_scan_", "q_sink_"):
        assert any(n.startswith(family_prefix) for n in window), family_prefix
    # the rotation-stable flagship core: these stay in EVERY window
    # (other names rotate per round to accrue first-time driver grades)
    for flagship in ("q_dedup_exact", "q_tfidf", "q_cosine_topk",
                     "q_corpus_pipeline", "q_wro_overlay",
                     "q_agg_group", "q_sql_api"):
        assert flagship in window, flagship


def test_oracle_backed_outputs_are_driver_hashable(spark):
    """No oracle-backed query may emit Array/Map/Struct/Binary output
    columns: the driver's pandas canonicalizer raises ``unhashable
    type`` on such cells (the CORRECTNESS_r04 regression -- correct
    values, red rows). Schema resolution only, no job execution; this
    fails BEFORE the driver does on any future unserialized query."""
    from pyspark.sql import types as T

    from harness import sweep
    from .conftest import SF_ORACLE
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()

    # harness.sweep: batch schemas on the 4-thread in-process pool,
    # q_stream_* in sequence (constructing a streaming query RUNS its
    # micro-batch pipeline against its scratch sinks, most of this
    # test's wall clock, and a racing twin could corrupt them)
    def bad_fields(name: str) -> list[str]:
        schema = q[name](spark, SF_ORACLE).schema
        return [
            f"{name}.{f.name}: {f.dataType.simpleString()}"
            for f in schema.fields
            if isinstance(
                f.dataType,
                (T.ArrayType, T.MapType, T.StructType, T.BinaryType),
            )
        ]

    bad = [b for found in sweep(bad_fields, o).values() for b in found]
    assert not bad, f"driver-unhashable output columns: {bad}"


def test_rows_only_queries_are_the_intended_set():
    """Queries WITHOUT an oracle must be exactly the genuinely
    non-SQL-expressible ones (SURVEY.md section 2.2) -- a silently
    dropped oracle would weaken the correctness gate unnoticed."""
    import __spark_entry__ as e

    rows_only = set(e.queries()) - set(e.oracle_sql())
    # After the round-5 promotion sweep the set is EMPTY: every query --
    # including the "approximate" (simhash/minhash/ann via portable
    # hashes and literal-inlined hyperplanes), the iterative (kmeans via
    # 1e-6 quantization + exact long-sum centroids + unrolled CTEs), the
    # custom-stateful-streaming pair (agg_update/stateful_custom via
    # deterministic staging + integer state), and the multimodal schema
    # plumbing (q_multimodal_struct, typed columns serialized at the
    # boundary) -- carries an exact DuckDB oracle.
    expected = set()
    assert rows_only == expected, (
        f"unexpected rows-only: {sorted(rows_only - expected)}; "
        f"lost rows-only: {sorted(expected - rows_only)}"
    )


def test_concurrent_queries_share_one_session_safely(spark):
    """Run a conf-sensitive mix CONCURRENTLY on one session -- the
    streaming micro-batch query (pins shuffle partitions on a private
    session clone), the iterative graph query (repartitions loop state
    instead of touching session conf), and two relational queries --
    and require results identical to their solo runs. This is the
    executable form of the no-session-conf-writes claim: a global
    conf write in any of them would corrupt a neighbor's plan."""
    from concurrent.futures import ThreadPoolExecutor

    from weighted_raster_overlay_service_toolbox_spark.queries import QUERIES

    from .conftest import SF_ORACLE

    names = [
        "q_stream_tumbling",
        "q_dedup_clusters",
        "q_agg_group",
        "q_tpch_q5",
    ]

    def run(name):
        rows = QUERIES[name](spark, SF_ORACLE).collect()
        return sorted(map(tuple, rows))

    solo = {n: run(n) for n in names}
    with ThreadPoolExecutor(max_workers=4) as ex:
        concurrent = dict(zip(names, ex.map(run, names)))
    for n in names:
        assert concurrent[n] == solo[n], f"{n} diverged under concurrency"
