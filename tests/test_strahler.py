"""Strahler order: hand-derived fixture orders, driver-vs-distributed
parity, every rule exercised (tie +1, max-without-increment, chain
constancy, side-leaf non-bump), the oracle's K=16 depth bound pinned,
and a larger deterministic forest."""
import logging
from collections import defaultdict

import pytest

from conftest import ITERATE_LOG, count_jobs, sync_probes
from geotrellis_contrib_spark import corpus as corpus_mod
from geotrellis_contrib_spark.operators.cluster import (
    _strahler_py, strahler_order)


def _depth(edges):
    children = defaultdict(list)
    nodes = set()
    for c, p in edges:
        children[p].append(c)
        nodes.update((c, p))
    memo = {}

    def d(v):
        if v not in memo:
            memo[v] = 0
            kids = children.get(v, ())
            if kids:
                memo[v] = 1 + max(d(k) for k in kids)
        return memo[v]

    return max(d(v) for v in nodes)


def test_fixture_hand_orders_and_depth():
    edges = corpus_mod.synth_stream_edges()
    ref = _strahler_py(edges)
    # hand-derived (corpus docstring): root 3; junction 2 ties at 3;
    # junction 3 sees unequal children (1 via pruned 6, 2 via 7) -> 2
    assert ref[1] == 3 and ref[2] == 3 and ref[3] == 2 and ref[6] == 1
    assert ref[4] == ref[5] == ref[7] == 2
    # chain constancy: every chain node carries its junction's order
    for j in (2, 3, 4, 5, 7, 8):
        for i in range(1, (j % 3) + 2):
            assert ref[1000 * j + i] == ref[j]
    # side leaves are order 1 and did NOT bump their chain cells
    assert all(ref[v] == 1 for v in ref if v >= 2_000_000)
    # the oracle unrolls 16 Jacobi rounds: fixture depth must be < 16
    assert _depth(edges) < 16


def _assert_sums_increase_then_repeat(caplog):
    # the sum probe is sound only while Jacobi rounds are monotone:
    # every sync's sum strictly increases until the one repeat that
    # ends the loop
    sums = sync_probes(caplog, "strahler jacobi")
    assert len(sums) >= 2 and sums[-1] == sums[-2]
    assert all(a < b for a, b in zip(sums[:-2], sums[1:-1]))


def test_both_paths_match_reference(spark, caplog):
    edges = corpus_mod.synth_stream_edges()
    ref = _strahler_py(edges)
    df = spark.createDataFrame(edges, "child long, parent long")
    a = {r.node: r.strahler for r in strahler_order(df).collect()}
    caplog.set_level(logging.INFO, logger=ITERATE_LOG)
    jobs, rows = count_jobs(spark, lambda: strahler_order(
        df, small_graph_edges=0).collect())
    b = {r.node: r.strahler for r in rows}
    assert a == ref and b == ref
    assert jobs == 52
    # three Jacobi syncs here (sums 56, 57, 57)
    _assert_sums_increase_then_repeat(caplog)


def _forest_edges():
    # two trees; arithmetic child fan-out 0..3 per node -> junctions,
    # chains and leaves mix; includes order-4 structure
    edges = []
    nid = [2]
    for root in (0, 1):
        frontier = [root]
        for _ in range(5):
            nxt = []
            for v in frontier:
                fan = (v * 7 + 3) % 4
                for _ in range(fan):
                    c = nid[0]
                    nid[0] += 1
                    edges.append((c, v))
                    nxt.append(c)
            frontier = nxt
    return edges


def test_larger_deterministic_forest(spark, caplog):
    edges = _forest_edges()
    ref = _strahler_py(edges)
    assert max(ref.values()) >= 3 and _depth(edges) <= 6
    df = spark.createDataFrame(edges, "child long, parent long")
    caplog.set_level(logging.INFO, logger=ITERATE_LOG)
    b = {r.node: r.strahler
         for r in strahler_order(df, small_graph_edges=0).collect()}
    assert b == ref
    _assert_sums_increase_then_repeat(caplog)


def test_cycle_fails_loud_driver_path(spark):
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 1)],
                               "child long, parent long")
    with pytest.raises(ValueError, match="cycle"):
        strahler_order(df)


def test_unary_cycle_fails_loud_distributed_path(spark):
    # a->b->a with nc==1 everywhere: contraction settles on self-pointers
    # whose representative is an nc==1 node — the r7 in-plan guard must
    # raise (r6 ADVICE medium: these rows used to drop silently), also
    # for consumers that never read the strahler column (the guard must
    # survive Catalyst's column pruning)
    df = spark.createDataFrame([(1, 2), (2, 1)], "child long, parent long")
    out = strahler_order(df, small_graph_edges=0)
    for consume in (out.collect, out.select("node").collect, out.count):
        with pytest.raises(Exception, match="cycle in the flow"):
            consume()


@pytest.mark.parametrize("edges, loop", [
    # the fixture's chains need two contraction syncs
    (corpus_mod.synth_stream_edges, "contraction"),
    # the forest contracts in one sync; Jacobi needs two
    (_forest_edges, "Jacobi"),
])
def test_tiny_budget_fails_loud(spark, edges, loop):
    df = spark.createDataFrame(edges(), "child long, parent long")
    with pytest.raises(RuntimeError,
                       match=f"strahler {loop} did not settle in 1 rounds"):
        strahler_order(df, small_graph_edges=0, max_rounds=1).collect()
