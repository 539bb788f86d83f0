"""Large-star/small-star connected components (operators/graph.py).

Ground truth is a driver-side union-find over the same edge list —
trivially correct at test scale, and component labels are compared as
full (node → min-of-component) maps.
"""

from __future__ import annotations

from bigdata_processing_spark.operators.graph import connected_components


def _union_find_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _run(spark, edges: list[tuple[int, int]]):
    # small_graph_edges=0 forces the DISTRIBUTED star-contraction path —
    # these tests exist to exercise it (the driver fast path would
    # otherwise swallow every fixture-sized graph)
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    labels, rounds = connected_components(df, small_graph_edges=0)
    got = {r.node: r.component for r in labels.collect()}
    labels.unpersist()
    return got, rounds


def test_cc_small_graph_driver_path_agrees(spark):
    """Below the constant edge bound the driver union-find path must
    produce byte-identical labels to the distributed path (and to the
    reference union-find), with rounds reported as 0."""
    edges = (
        [(i, j) for i in range(6) for j in range(i + 1, 6)]
        + [(5, 30), (30, 31), (31, 32), (100, 101)]
    )
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    labels, rounds = connected_components(df)  # default: driver path
    got = {r.node: r.component for r in labels.collect()}
    labels.unpersist()
    assert rounds == 0
    assert got == _union_find_labels(edges)
    dist, _ = _run(spark, edges)
    assert got == dist


def test_cc_matches_union_find_on_mixed_graph(spark):
    # two cliques, a chain bridging into one of them, plus isolated pairs
    edges = (
        [(i, j) for i in range(5) for j in range(i + 1, 5)]          # clique 0-4
        + [(10 + i, 10 + j) for i in range(4) for j in range(i + 1, 4)]  # clique 10-13
        + [(4, 20), (20, 21), (21, 22)]                               # chain off clique
        + [(100, 101), (200, 201)]                                    # isolated pairs
    )
    got, _ = _run(spark, edges)
    assert got == _union_find_labels(edges)


def test_cc_chain_converges_in_log_rounds(spark):
    # a 64-node path: diameter 63. Min-label propagation needs ~63
    # rounds; star contraction must stay logarithmic.
    edges = [(i, i + 1) for i in range(63)]
    got, rounds = _run(spark, edges)
    assert got == {i: 0 for i in range(64)}
    assert rounds <= 10, f"chain took {rounds} rounds — not contracting"


def test_cc_distributed_path_frees_round_checkpoints(spark):
    """Each star round's edge set is a local checkpoint, whose blocks
    ``DataFrame.unpersist`` leaves registered: once the caller drops the
    labels, the distributed path must leave no persisted RDD behind."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    got, rounds = _run(spark, [(i, i + 1) for i in range(31)])
    assert got == {i: 0 for i in range(32)}
    assert rounds >= 2  # several superseded round checkpoints
    assert set(jsc.getPersistentRDDs().keys()) <= before


def test_cc_pseudorandom_graph(spark):
    # deterministic pseudo-random sparse graph over 200 nodes
    edges = []
    x = 1
    for _ in range(150):
        x = (1103515245 * x + 12345) % (1 << 31)
        a = x % 200
        x = (1103515245 * x + 12345) % (1 << 31)
        b = x % 200
        if a != b:
            edges.append((a, b))
    got, _ = _run(spark, edges)
    assert got == _union_find_labels(edges)


def test_cc_empty_and_selfloop_edges(spark):
    got, rounds = _run(spark, [(7, 7)])  # self-loop only → no components
    assert got == {}
    assert rounds == 0  # empty edge set is trivially a star forest


def test_cc_property_random_graphs(spark):
    """Property check: on arbitrary random graphs (hypothesis-driven
    edge lists, deduplicated examples), connected_components always
    equals union-find. Bounded examples — each case runs Spark jobs."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.tuples(st.integers(0, 30), st.integers(0, 30)),
            min_size=1,
            max_size=40,
        )
    )
    def check(edges):
        got, _ = _run(spark, edges)
        assert got == _union_find_labels([e for e in edges if e[0] != e[1]])

    check()
