"""Luby-style MIS + weighted PageRank kernels (operators/graph.py).

MIS contract: the returned set is INDEPENDENT (no edge inside) and
MAXIMAL (every non-member has a member neighbor), deterministic under
partitioning, and the kernel raises rather than returning a partial
set.  Weighted PageRank contract: exact BIGINT ppm fixed-point, edge
weight steers the flow (heavier edge → larger share), duplicate
(src, dst) rows pre-aggregate instead of double-counting mass.
"""

import pytest
from pyspark.sql import functions as F

from gaia_spark.operators.graph import luby_mis, pagerank_weighted


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _path5(spark):
    return _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"),
                          ("d", "e")])


def test_mis_independent_and_maximal(spark):
    e = _path5(spark)
    mis = {r.node for r in luby_mis(e).collect()}
    und = {(r.src, r.dst) for r in e.collect()}
    und |= {(b, a) for a, b in und}
    # independence: no edge inside the set
    assert not any((a, b) in und for a in mis for b in mis)
    # maximality: every non-member has a neighbor in the set
    nodes = {x for ab in und for x in ab}
    for v in nodes - mis:
        assert any((v, m) in und for m in mis), v


def test_mis_star_is_center_or_leaves(spark):
    """A star graph's MIS is either {center} or all leaves — and with
    static hash priorities the outcome is a pure function of the ids,
    so repeated runs agree."""
    e = _edges(spark, [("hub", f"leaf{i}") for i in range(8)])
    got1 = {r.node for r in luby_mis(e).collect()}
    got2 = {r.node for r in luby_mis(e.repartition(7)).collect()}
    assert got1 == got2
    assert got1 == {"hub"} or got1 == {f"leaf{i}" for i in range(8)}


def test_mis_triangle_single_winner(spark):
    e = _edges(spark, [("x", "y"), ("y", "z"), ("x", "z")])
    mis = luby_mis(e).collect()
    assert len(mis) == 1
    assert mis[0].mis_round == 0


def test_mis_raises_on_round_exhaustion(spark):
    """rounds=0 cannot finish any graph with nodes → must raise, not
    return a partial (non-maximal) set."""
    with pytest.raises(RuntimeError, match="still active"):
        luby_mis(_path5(spark), rounds=0)


def test_weighted_pagerank_weight_steers_flow(spark):
    """s splits rank 9:1 between a and b → a must outrank b, and the
    contribution split must be exact integer ninths/tenths."""
    e = spark.createDataFrame(
        [("s", "a", 9), ("s", "b", 1)],
        "src string, dst string, weight bigint")
    r = {row.node: row.rank_ppm
         for row in pagerank_weighted(e, iters=1).collect()}
    base = 1_000_000 - 1_000_000 * 85 // 100
    start = 1_000_000
    assert r["a"] == base + 85 * (start * 9 // 10) // 100
    assert r["b"] == base + 85 * (start * 1 // 10) // 100
    assert r["s"] == base


def test_weighted_pagerank_preaggregates_parallel_edges(spark):
    """Duplicate (src, dst) rows must merge into one weighted edge,
    not double-send mass: (s→a w=1) twice ≡ (s→a w=2) vs (s→b w=2)."""
    dup = spark.createDataFrame(
        [("s", "a", 1), ("s", "a", 1), ("s", "b", 2)],
        "src string, dst string, weight bigint")
    merged = spark.createDataFrame(
        [("s", "a", 2), ("s", "b", 2)],
        "src string, dst string, weight bigint")
    got = {(r.node, r.rank_ppm)
           for r in pagerank_weighted(dup, iters=2).collect()}
    want = {(r.node, r.rank_ppm)
            for r in pagerank_weighted(merged, iters=2).collect()}
    assert got == want


def test_weighted_pagerank_uniform_weights_match_unweighted(spark):
    """weight≡1 must reproduce plain pagerank bit-for-bit (same
    fixed-point arithmetic path)."""
    from gaia_spark.operators.graph import pagerank
    e = _path5(spark)
    w = e.withColumn("weight", F.lit(1).cast("bigint"))
    got = {(r.node, r.rank_ppm)
           for r in pagerank_weighted(w, iters=3).collect()}
    want = {(r.node, r.rank_ppm)
            for r in pagerank(e, iters=3).collect()}
    assert got == want


def test_mis_driver_action_budget(spark):
    """r4-verdict #3: a round must cost TWO checkpoint jobs (winners,
    state), with convergence probes batched (every ``probe_every``-th
    round, pinned to 2 here) — not 2+ probes per round.  Counts the
    localCheckpoint and isEmpty calls; budget = 2 checkpoints per
    round + rounds/2 probes + fixed setup, far under the old
    ~3x-per-round schedule."""
    edges = _path5(spark)
    # the session's concrete DataFrame class: patching the abstract
    # pyspark.sql.DataFrame would count no call at all
    _DF = type(edges)
    counts = {"ckpt": 0, "empty": 0}
    orig_ckpt, orig_empty = _DF.localCheckpoint, _DF.isEmpty

    def _ckpt(self, *a, **k):
        counts["ckpt"] += 1
        return orig_ckpt(self, *a, **k)

    def _empty(self):
        counts["empty"] += 1
        return orig_empty(self)

    _DF.localCheckpoint, _DF.isEmpty = _ckpt, _empty
    try:
        rows = luby_mis(edges, rounds=16, probe_every=2).collect()
    finally:
        _DF.localCheckpoint, _DF.isEmpty = orig_ckpt, orig_empty
    assert rows
    # the r4 bar: emptiness probes batched to <= rounds/2 (old code
    # probed every round = 16+); with probe_every=2 a converging
    # 16-round run probes at most 8 times (rounds 2, 4, ..., 16)
    assert counts["empty"] <= 16 // 2, counts
    # checkpoints: sym + state-init + 2 per executed round (winners
    # reused, not recomputed 3x) + a shrink at each probe that finds
    # nodes still active.  path5 converges at the first probe (round
    # 2: 6 checkpoints); the budget allows 4 rounds and one shrink
    assert counts["ckpt"] <= 2 + 2 * 4 + 1, counts
