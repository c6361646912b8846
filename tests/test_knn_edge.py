"""kNN edge cases and the completeness-proof property tests.

The proofs only decide which probes escalate, so the operators must return
exactly the rows of a brute-force kNN that uses the same float arithmetic
(sqrt(dx*dx + dy*dy)) and tie-break (dist asc, then right_id asc). The
property tests place probes and candidates on cell edges and data-bounds
edges and one ULP either side, where a rounding slip in a reach would show.
"""

import math
import random

import numpy as np
import pytest

from geotreehealth_spark.operators import knn, materialize

EXTENT = 100.0


def _points(spark, rows, xcol="x", ycol="y", idcol="pid"):
    return spark.createDataFrame(rows, f"{idcol} string, {xcol} double, {ycol} double")


def _cands(spark, rows):
    return _points(spark, rows, xcol="cx", ycol="cy", idcol="cid")


def _rows(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()))


def _dists(probe, cands):
    _, x, y = probe
    dx = x - np.array([c[1] for c in cands])
    dy = y - np.array([c[2] for c in cands])
    return np.sqrt(dx * dx + dy * dy)


def _brute_knn(probes, cands, k, min_dist=None):
    out = []
    for p in probes:
        ranked = sorted(
            (float(d), c[0]) for d, c in zip(_dists(p, cands), cands)
            if min_dist is None or d >= min_dist
        )
        out += [(p[0], cid, d, r) for r, (d, cid) in enumerate(ranked[:k], 1)]
    return sorted(out)


def _brute_quadrant(probes, cands, min_dist=None):
    out = []
    for p in probes:
        best = {}
        for d, (cid, cx, cy) in zip(_dists(p, cands), cands):
            if min_dist is not None and d < min_dist:
                continue
            east, north = cx >= p[1], cy >= p[2]
            q = ("NE" if north else "SE") if east else ("NW" if north else "SW")
            best[q] = min(best.get(q, (math.inf, "")), (float(d), cid))
        out += [(p[0], cid, q, d) for q, (d, cid) in best.items()]
    return sorted(out)


def _ulps(v):
    return [v, math.nextafter(v, -math.inf), math.nextafter(v, math.inf)]


def _edge_world(seed, cell, n_cands=120, n_probes=150):
    """Candidates and probes with each coordinate, by coin flip, either
    uniform or on a grid line g*cell (computed as the engine computes cell
    edges) +-1 ULP; probes also sit on the candidates' data bounds +-1 ULP.
    Shared edge coordinates give exact distance ties and dx == 0 / dy == 0
    quadrant boundaries."""
    rng = random.Random(seed)
    grid = [u for g in range(int(EXTENT / cell) + 1) for u in _ulps(g * cell)]

    def coord(pool):
        return rng.choice(pool) if rng.random() < 0.5 else rng.uniform(0.0, EXTENT)

    cands = [(f"c{i:03d}", coord(grid), coord(grid)) for i in range(n_cands)]
    xs, ys = [c[1] for c in cands], [c[2] for c in cands]
    px = grid + _ulps(min(xs)) + _ulps(max(xs))
    py = grid + _ulps(min(ys)) + _ulps(max(ys))
    probes = [(f"p{i:03d}", coord(px), coord(py)) for i in range(n_probes)]
    return probes, cands


def _count_rounds(monkeypatch):
    """Count the driver's checkpoints: one per round, so > 1 means a
    residue escalated."""
    calls = {"n": 0}
    orig = materialize._checkpoint

    def counting(df):
        calls["n"] += 1
        return orig(df)

    monkeypatch.setattr(materialize, "_checkpoint", counting)
    return calls


def test_knn_join_empty_right(spark):
    left = _points(spark, [("a", 1.0, 1.0), ("b", 5.0, 5.0)])
    right = _cands(spark, [])
    out = knn.knn_join(
        left, right, k=2, left_id="pid", right_id="cid", cell_size=10.0, extent=100.0
    )
    assert out.count() == 0
    assert {"pid", "cid", "dist", "knn_rank"} <= set(out.columns)


def test_quadrant_knn_join_empty_right(spark):
    left = _points(spark, [("a", 1.0, 1.0)])
    right = _cands(spark, [])
    out = knn.quadrant_knn_join(
        left, right, left_id="pid", right_id="cid", cell_size=10.0, extent=100.0,
        min_dist=0.0,
    )
    assert out.count() == 0
    assert "quadrant" in out.columns


def test_knn_join_no_cache_leak(spark, persistent_rdds):
    left = _points(spark, [(f"p{i}", float(i), float(i)) for i in range(50)])
    right = _cands(spark, [(f"c{i}", float(i) + 0.25, float(i) - 0.25) for i in range(50)])
    before = len(persistent_rdds())
    out = knn.knn_join(
        left, right, k=3, left_id="pid", right_id="cid", cell_size=5.0, extent=60.0
    )
    assert out.count() == 50 * 3
    after = len(persistent_rdds())
    # the returned localCheckpoint RDD is the only retained block set
    assert after <= before + 1


def test_corner_probe_proofs_match_brute_force(spark, monkeypatch):
    """The empty-quadrant proof arms prove the corner probe's empty outward
    quadrants at ring 1. The fixture pins the failure mode that kept a
    1-probe residue at sf0.1: a probe AT the data min corner, whose west and
    south quadrants are empty but unbounded along one axis, plus a sparse far
    corner so the knn_join residue escalates."""
    probes = [("corner", 0.0, 0.0), ("mid", 41.0, 43.0), ("edge", 0.0, 57.0)]
    cands = [
        (f"c{i}", (i * 37.0) % 90 + 5.0, (i * 53.0) % 90 + 5.0) for i in range(40)
    ] + [("far", 99.0, 99.0)]
    left, right = _points(spark, probes), _cands(spark, cands)
    kw = dict(left_id="pid", right_id="cid", cell_size=8.0, extent=100.0)
    qa = _rows(knn.quadrant_knn_join(left, right, min_dist=3.0, **kw),
               ("pid", "cid", "quadrant", "dist"))
    ka = _rows(knn.knn_join(left, right, k=4, **kw), ("pid", "cid", "dist", "knn_rank"))
    assert qa == _brute_quadrant(probes, cands, 3.0)
    assert ka == _brute_knn(probes, cands, 4) and len(ka) == 3 * 4
    # the corner probe's NW/SW/SE quadrants are provably empty: its only
    # output rows are NE ones
    assert all(q == "NE" for p, _, q, _ in qa if p == "corner")
    # ... and proven at ring 1: alone, it needs no escalation round
    rounds = _count_rounds(monkeypatch)
    knn.quadrant_knn_join(left.where("pid = 'corner'"), right, min_dist=3.0, **kw).count()
    assert rounds["n"] == 1


def test_data_bound_on_open_cell_edge_is_not_covered(spark):
    """The searched box's high edge is open: a candidate exactly on it lies
    in the next, unsearched cell. When the data bound sits on that edge the
    bound-covered arm must not fire (`<`, not `<=`), or the probe is proven
    with the farther in-box candidate. Random edge probes rarely land
    here, so this pins it."""
    cell, x, y = 7.3, 9 * 7.3 - 0.1, 50.0  # probe in cell 8: ring 1 ends at 10*cell
    edge = 10 * cell
    assert math.floor(edge / cell) == 10 and math.floor(x / cell) == 8
    probes = [("p", x, y)]
    cands = [("edge", edge, y), ("inbox", x - 8.0, y)]  # the edge one is nearer
    left, right = _points(spark, probes), _cands(spark, cands)
    kw = dict(left_id="pid", right_id="cid", cell_size=cell, extent=EXTENT)
    got = _rows(knn.knn_join(left, right, k=1, **kw), ("pid", "cid", "dist", "knn_rank"))
    assert got == _brute_knn(probes, cands, 1) and got[0][1] == "edge"
    got = _rows(knn.quadrant_knn_join(left, right, min_dist=0.0, **kw),
                ("pid", "cid", "quadrant", "dist"))
    assert got == _brute_quadrant(probes, cands, 0.0)


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_proofs_match_brute_force_on_edges(spark, monkeypatch, seed):
    """k in {1, 3, 6} and the quadrant variant, min_dist alternating by seed
    so each is covered with and without it. min_dist is an exact candidate
    distance, so the inclusive >= boundary is hit."""
    cell = 7.3  # not a power of two: g * cell rounds
    probes, cands = _edge_world(seed, cell)
    left, right = _points(spark, probes), _cands(spark, cands)
    exact = sorted(_dists(probes[0], cands))[3]
    kw = dict(left_id="pid", right_id="cid", cell_size=cell, extent=EXTENT)
    rounds = _count_rounds(monkeypatch)
    for j, k in enumerate((1, 3, 6)):
        md = exact if (seed + j) % 2 else None
        got = _rows(knn.knn_join(left, right, k=k, min_dist=md, **kw),
                    ("pid", "cid", "dist", "knn_rank"))
        assert got == _brute_knn(probes, cands, k, md), (seed, k, md)
    md = exact if seed % 2 else None
    got = _rows(knn.quadrant_knn_join(left, right, min_dist=md, **kw),
                ("pid", "cid", "quadrant", "dist"))
    assert got == _brute_quadrant(probes, cands, md), (seed, md)
    # the fixture is sparse enough that some residue escalates
    assert rounds["n"] > 4


def test_coarse_cells_escalate_to_crossjoin(spark, monkeypatch):
    """Coarse cells (a third of the extent, so max_ring is 4) with few
    candidates: ring 1 leaves a residue and the next round is the crossJoin
    fallback. Then, with the crossJoin cost switch disabled, fine cells run
    the ring-4 and ring-16 escalation rounds before the fallback."""
    probes, cands = _edge_world(21, EXTENT / 3, n_cands=12, n_probes=60)
    left, right = _points(spark, probes), _cands(spark, cands)
    kw = dict(left_id="pid", right_id="cid", extent=EXTENT)
    rounds = _count_rounds(monkeypatch)
    got = _rows(knn.knn_join(left, right, k=6, cell_size=EXTENT / 3, **kw),
                ("pid", "cid", "dist", "knn_rank"))
    assert got == _brute_knn(probes, cands, 6)
    assert rounds["n"] == 2
    got = _rows(knn.quadrant_knn_join(left, right, cell_size=EXTENT / 3, min_dist=0.0, **kw),
                ("pid", "cid", "quadrant", "dist"))
    assert got == _brute_quadrant(probes, cands, 0.0)

    monkeypatch.setattr(knn, "CROSS_JOIN_ROWS", 0)
    rounds["n"] = 0
    got = _rows(knn.knn_join(left, right, k=3, cell_size=2.1, **kw),
                ("pid", "cid", "dist", "knn_rank"))
    assert got == _brute_knn(probes, cands, 3)
    assert rounds["n"] >= 3


def _sparse_residue(spark):
    # probes near the origin, candidates in the far corner: ring 1 finds
    # nothing and cannot prove anything, so every probe is residue
    left = _points(spark, [(f"p{i}", float(i), float(i)) for i in range(10)])
    right = _cands(spark, [(f"c{i}", 90.0 + i % 7, 90.0 + i % 5) for i in range(30)])
    return left, right


def test_escalation_failure_releases_checkpoints(spark, monkeypatch, persistent_rdds):
    """A raise in the escalation round must release the first round's
    checkpoint blocks (unreachable through the DataFrame API) and the input
    caches, leaving the persistent-RDD registry as it was."""
    left, right = _sparse_residue(spark)
    calls = {"n": 0}
    orig = materialize._checkpoint

    def boom(df):
        calls["n"] += 1
        if calls["n"] >= 2:  # fail entering round 2: round-1 blocks exist
            raise RuntimeError("injected escalation failure")
        return orig(df)

    monkeypatch.setattr(materialize, "_checkpoint", boom)
    before = persistent_rdds()
    with pytest.raises(RuntimeError, match="injected"):
        knn.knn_join(left, right, k=3, left_id="pid", right_id="cid",
                     cell_size=5.0, extent=100.0)
    assert calls["n"] == 2, "the residue never escalated"
    after = persistent_rdds()
    assert after == before, f"leaked persistent RDDs after failure: {after - before}"


def test_null_right_id_raises(spark):
    left, right = _sparse_residue(spark)
    right = right.unionByName(_cands(spark, [(None, 1.0, 2.0)]))
    with pytest.raises(ValueError, match="NULL 'cid'"):
        knn.knn_join(left, right, k=3, left_id="pid", right_id="cid", extent=100.0)


def test_null_left_id_raises(spark):
    left, right = _sparse_residue(spark)
    left = left.unionByName(_points(spark, [(None, 91.0, 92.0)]))
    with pytest.raises(ValueError, match="NULL 'pid'"):
        knn.quadrant_knn_join(left, right, left_id="pid", right_id="cid", extent=100.0)
