"""Connected-components dedup clustering vs a tiny union-find oracle."""

import logging

import numpy as np
import pytest

from conftest import ITERATE_LOG, count_jobs, sync_probes
from geotrellis_contrib_spark.operators import cluster as cl


def _uf_oracle(edges):
    parent = {}

    def find(x):
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


def test_connected_components_chain_and_clique(spark):
    # a 6-node CHAIN (needs several propagation rounds), a 4-clique, an
    # isolated pair — long ids
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
             (10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13),
             (20, 21)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.component for r in cl.connected_components(df).collect()}
    want = _uf_oracle(edges)
    assert got == want
    assert got[6] == 1 and got[13] == 10 and got[21] == 20


def test_dup_clusters_survivors_string_ids(spark):
    pairs = [("doc-03", "doc-01"), ("doc-02", "doc-01"), ("doc-09", "doc-08")]
    df = spark.createDataFrame(pairs, "doc_a string, doc_b string")
    rows = cl.dup_clusters(df, "doc_a", "doc_b").collect()
    by_id = {r.id: r for r in rows}
    assert by_id["doc-01"].is_survivor and by_id["doc-01"].cluster_id == "doc-01"
    assert not by_id["doc-03"].is_survivor and by_id["doc-03"].cluster_id == "doc-01"
    assert by_id["doc-08"].is_survivor and by_id["doc-09"].cluster_id == "doc-08"
    # nodes appearing in no pair are absent (not duplicates)
    assert set(by_id) == {"doc-01", "doc-02", "doc-03", "doc-08", "doc-09"}


def test_connected_components_random_vs_oracle(spark):
    rng = np.random.default_rng(11)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 60, size=(80, 2)) if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.component for r in cl.connected_components(df).collect()}
    assert got == _uf_oracle(edges)


def test_batched_rounds_halve_materializations(spark):
    # round-4 regression guard: 2 propagate+double rounds run lazily per
    # localCheckpoint sync, so a 64-node chain (worst-case label-hop shape)
    # must converge well within ~log2(64)=6 sync batches + the final
    # no-change batch — count the actual materializations via max_iter.
    edges = [(i, i + 1) for i in range(64)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.component
           for r in cl.connected_components(df, max_iter=7,
                                            small_graph_edges=0).collect()}
    assert got == _uf_oracle(edges)
    assert set(got.values()) == {0}


def test_batched_rounds_match_single_round_labels(spark):
    # batched rounds must give the oracle's labels (min-label
    # propagation is idempotent/order-free)
    rng = np.random.default_rng(7)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 80, size=(100, 2)) if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.component
           for r in cl.connected_components(
               df, small_graph_edges=0).collect()}
    assert got == _uf_oracle(edges)


@pytest.mark.parametrize("run, match", [
    (lambda df: cl.connected_components(df, max_iter=1,
                                        small_graph_edges=0),
     "connected_components did not converge in 1 sync"),
    (lambda df: cl.kcore(df, max_rounds=1),
     "kcore h-index iteration did not settle in 1 "),
])
def test_tiny_budget_fails_loud(spark, run, match):
    # a 64-node chain needs several syncs for both loops
    df = spark.createDataFrame([(i, i + 1) for i in range(64)],
                               "src long, dst long")
    with pytest.raises(RuntimeError, match=match):
        run(df).collect()


def test_small_graph_driver_path_matches_distributed(spark):
    """The adaptive small-graph union-find must be label-identical to the
    distributed doubling loop (long AND string ids), and the threshold
    must route as configured."""
    rng = np.random.default_rng(23)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 200, size=(300, 2))
             if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    fast = {r.id: r.component
            for r in cl.connected_components(df).collect()}
    jobs, rows = count_jobs(spark, lambda: cl.connected_components(
        df, small_graph_edges=0).collect())
    dist = {r.id: r.component for r in rows}
    assert fast == dist == _uf_oracle(edges)
    # driver syncs pinned. AQE submits this loop's shuffle-join stages
    # asynchronously, so identical runs differ by a job or two (56-59
    # observed); one more sync would add about 13 jobs.
    assert abs(jobs - 57) <= 2

    sedges = [(f"d-{a:03d}", f"d-{b:03d}") for a, b in edges]
    sdf = spark.createDataFrame(sedges, "src string, dst string")
    sfast = {r.id: r.component
             for r in cl.connected_components(sdf).collect()}
    sdist = {r.id: r.component
             for r in cl.connected_components(
                 sdf, small_graph_edges=0).collect()}
    assert sfast == sdist == _uf_oracle(sedges)


def _peel_coreness(edges):
    """Independent reference: classic min-degree peeling."""
    import heapq
    from collections import defaultdict
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    core, removed, k = {}, set(), 0
    h = [(d, v) for v, d in deg.items()]
    heapq.heapify(h)
    while h:
        d, v = heapq.heappop(h)
        if v in removed or d != deg[v]:
            continue
        k = max(k, deg[v])
        core[v] = k
        removed.add(v)
        for u in adj[v]:
            if u not in removed:
                deg[u] -= 1
                heapq.heappush(h, (deg[u], u))
    return core


def _assert_sums_decrease_then_repeat(caplog):
    # the sum probe is sound only while h-index rounds are monotone:
    # every sync's sum strictly decreases until the one repeat that
    # ends the loop
    sums = sync_probes(caplog, "kcore")
    assert len(sums) >= 2 and sums[-1] == sums[-2]
    assert all(a > b for a, b in zip(sums[:-2], sums[1:-1]))


def test_kcore_fixture_vs_peeling(spark, caplog):
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators.cluster import kcore
    edges = corpus_mod.synth_core_edges()
    df = spark.createDataFrame(edges, "src long, dst long")
    caplog.set_level(logging.INFO, logger=ITERATE_LOG)
    jobs, rows = count_jobs(spark, lambda: kcore(df).collect())
    assert jobs == 25
    got = {r.node: r.coreness for r in rows}
    assert got == _peel_coreness(edges)
    # three syncs here (sums 64, 63, 63)
    _assert_sums_decrease_then_repeat(caplog)
    # structure pins: clique 5, ring 2, path/leaves 1, triangles 2;
    # bridges did NOT lift anything
    assert got[0] == 5 and got[12] == 2 and got[23] == 1 and got[42] == 2


def test_kcore_dense_deterministic_graph(spark, caplog):
    from geotrellis_contrib_spark.operators.cluster import kcore
    edges = [(a, b) for a in range(16) for b in range(a + 1, 16)
             if (a * 3 + b * 5) % 4 != 0]
    df = spark.createDataFrame(edges, "src long, dst long")
    caplog.set_level(logging.INFO, logger=ITERATE_LOG)
    got = {r.node: r.coreness for r in kcore(df).collect()}
    assert got == _peel_coreness(edges)
    _assert_sums_decrease_then_repeat(caplog)


def _executed_plans(spark, fn):
    """Run ``fn()`` and return the final physical plan text of every SQL
    execution it started, in execution order."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        lst = store.executionsList()
        return {lst.apply(i).executionId(): lst.apply(i)
                for i in range(lst.size())}

    before = set(executions())
    fn()
    return [e.physicalPlanDescription()
            for i, e in sorted(executions().items()) if i not in before]


@pytest.mark.parametrize("op", ["kcore", "mst_boruvka"])
def test_iterative_joins_stay_broadcast(spark, op):
    """kcore and mst_boruvka keep the count that feeds
    ``broadcast_if_small``: without it Catalyst's size estimate of the
    iterated frame is far above the broadcast threshold and half their
    joins turn into sort-merge joins (ROADMAP D8). Every query they
    execute joins by broadcast."""
    from geotrellis_contrib_spark import corpus as corpus_mod

    if op == "kcore":
        df = spark.createDataFrame(corpus_mod.synth_core_edges(),
                                   "src long, dst long")
        run = lambda: cl.kcore(df).collect()  # noqa: E731
    else:
        pairs = [(a, b) for a in range(18) for b in range(a + 1, 18)
                 if (a * 5 + b * 3) % 4 == 0]  # test_mst's dense graph
        edges = [(a, b, 500 + 7 * i) for i, (a, b) in enumerate(pairs, 1)]
        df = spark.createDataFrame(edges, "src long, dst long, w long")
        run = lambda: cl.mst_boruvka(df).collect()  # noqa: E731
    plans = _executed_plans(spark, run)
    assert len(plans) == 10
    shuffled = [p for p in plans if any(j in p for j in (
        "SortMergeJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin",
        "CartesianProduct"))]
    assert not shuffled, shuffled[0]
    assert sum("BroadcastHashJoin" in p for p in plans) >= 2
