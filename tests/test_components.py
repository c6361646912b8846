"""Connected components (operators/components.py): min-label propagation
must produce the exact transitive closure with min-id canonical labels."""

import pytest

from geotreehealth_spark.operators import components
from geotreehealth_spark.operators.components import connected_components


def _comp_map(df):
    return {r.node: r.comp for r in df.collect()}


def test_two_cliques_and_chain(spark):
    # component A: triangle {1,2,3}; component B: chain 10-11-12-13 (diameter
    # 3 — exercises multi-round propagation); pair {20,21}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (12, 13), (20, 21)],
        "id_a long, id_b long",
    )
    got = _comp_map(connected_components(edges))
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20}


def test_singletons_via_node_universe(spark):
    edges = spark.createDataFrame([(2, 5)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(1,), (2,), (5,), (9,)], "doc_id long")
    got = _comp_map(connected_components(edges, nodes=nodes))
    assert got == {1: 1, 2: 2, 5: 2, 9: 9}


def test_long_chain_converges(spark):
    # path graph 0-1-2-...-12: worst-case diameter for label propagation
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    got = _comp_map(connected_components(edges))
    assert set(got.values()) == {0}
    assert len(got) == 13


def test_nonconvergence_raises(spark, monkeypatch, persistent_rdds):
    # the raise must also release the edge-list and label checkpoints
    monkeypatch.setattr(components, "MAX_ITERS", 1)
    edges = spark.createDataFrame([(i, i + 1) for i in range(12)], "id_a long, id_b long")
    before = persistent_rdds()
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges)
    after = persistent_rdds()
    assert after == before, f"leaked persistent RDDs after failure: {after - before}"
