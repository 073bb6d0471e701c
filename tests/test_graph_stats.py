"""Unit tests for operators/graph_stats.py on hand-built graphs with
independently computed expectations (numpy power iteration for PageRank,
enumerated triangles for K4)."""

from __future__ import annotations

import pytest

from abecto_spark.operators.graph_stats import (
    characteristic_sets,
    degree_stats,
    pagerank,
    triangle_counts,
    void_stats,
)
from tests.conftest import rows_set


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src bigint, dst bigint")


def test_degree_stats(spark):
    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (4, 1)])
    got = rows_set(degree_stats(e), "node", "out_deg", "in_deg", "total_deg")
    assert got == {
        (1, 2, 1, 3),
        (2, 1, 1, 2),
        (3, 0, 2, 2),
        (4, 1, 0, 1),
    }


def test_pagerank_cycle_uniform(spark):
    # a 3-cycle is rank-regular: every node stays at 1/3 at every
    # iteration regardless of damping
    e = _edges(spark, [(1, 2), (2, 3), (3, 1)])
    ranks = {r["node"]: r["rank"] for r in pagerank(e, iterations=4).collect()}
    for v in ranks.values():
        assert v == pytest.approx(1.0 / 3.0, abs=1e-12)


def test_pagerank_matches_numpy_power_iteration(spark):
    # graph with a dangling node (4 has no out-edges) and asymmetric
    # in-degrees; reference computed with the same fixed-k update
    pairs = [(1, 2), (1, 3), (2, 3), (3, 4), (5, 3), (5, 1)]
    d, k = 0.85, 5
    nodes = sorted({u for p in pairs for u in p})
    n = len(nodes)
    idx = {u: i for i, u in enumerate(nodes)}
    out = {u: sum(1 for a, _ in pairs if a == u) for u in nodes}
    r = [1.0 / n] * n
    for _ in range(k):
        dangling = sum(r[idx[u]] for u in nodes if out[u] == 0)
        nxt = [0.0] * n
        for a, b in pairs:
            nxt[idx[b]] += r[idx[a]] / out[a]
        r = [
            (1 - d) / n + d * (nxt[i] + dangling / n) for i in range(n)
        ]
    got = {
        row["node"]: row["rank"]
        for row in pagerank(
            _edges(spark, pairs), iterations=k, damping=d
        ).collect()
    }
    assert set(got) == set(nodes)
    for u in nodes:
        assert got[u] == pytest.approx(r[idx[u]], rel=1e-12)
    # total mass is conserved at every step
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_triangles_k4_plus_pendant(spark):
    # K4: every one of the 4 nodes sits in C(3,2)=3 triangles; a pendant
    # node attached to 1 sits in none but must still appear with 0
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    e = _edges(spark, k4 + [(5, 1)])
    got = rows_set(triangle_counts(e), "node", "n_triangles")
    assert got == {(1, 3), (2, 3), (3, 3), (4, 3), (5, 0)}


def test_triangles_direction_and_multiedge_insensitive(spark):
    # duplicate edges, reversed edges and self-loops must not change the
    # count: one triangle {1,2,3}
    e = _edges(
        spark,
        [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (2, 2), (1, 2)],
    )
    got = rows_set(triangle_counts(e), "node", "n_triangles")
    assert got == {(1, 1), (2, 1), (3, 1)}


def _triples(spark, rows):
    return spark.createDataFrame(rows, "s string, p string, o_value string")


def test_characteristic_sets(spark):
    t = _triples(
        spark,
        [
            ("a", "name", "x"),
            ("a", "age", "1"),
            ("b", "age", "2"),
            ("b", "name", "y"),
            ("b", "name", "z"),  # multi-valued predicate: 3 triples, set unchanged
            ("c", "name", "w"),
        ],
    )
    got = rows_set(characteristic_sets(t), "cs", "n_subjects", "n_triples")
    assert got == {
        ("age,name", 2, 5),
        ("name", 1, 1),
    }


def test_void_stats(spark):
    t = _triples(
        spark,
        [
            ("a", "name", "x"),
            ("b", "name", "x"),
            ("b", "name", "y"),
            ("a", "age", "1"),
        ],
    )
    got = rows_set(void_stats(t), "predicate", "n_triples", "n_subjects", "n_objects")
    assert got == {
        ("name", 3, 2, 2),
        ("age", 1, 1, 1),
    }


def test_link_prediction_scores(spark):
    from math import log

    from abecto_spark.operators.graph_stats import link_prediction_scores

    # N(1)={2,3}, N(2)={1,3,4}, N(3)={1,2,4}, N(4)={2,3}: the only
    # non-adjacent pair with >=2 common neighbors is (1,4) via {2,3}
    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)])
    rows = link_prediction_scores(e, min_common=2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["x"], r["y"], r["common_neighbors"]) == (1, 4, 2)
    assert r["jaccard"] == pytest.approx(1.0)
    assert r["adamic_adar"] == pytest.approx(2.0 / log(3.0))


def test_link_prediction_center_cap_and_existing(spark):
    from math import log

    from abecto_spark.operators.graph_stats import link_prediction_scores

    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)])
    # cap 2 drops the degree-3 centers (2 and 3); the remaining wedges
    # only close adjacent pairs, so nothing survives exclude_existing
    assert (
        link_prediction_scores(e, max_center_degree=2, min_common=1).count()
        == 0
    )
    # scoring existing edges too: (2,3) shares {1,4}, jaccard 2/(3+3-2)
    got = {
        (r["x"], r["y"]): (r["common_neighbors"], r["jaccard"], r["adamic_adar"])
        for r in link_prediction_scores(
            e, min_common=2, exclude_existing=False
        ).collect()
    }
    assert got[(2, 3)][0] == 2
    assert got[(2, 3)][1] == pytest.approx(0.5)
    assert got[(2, 3)][2] == pytest.approx(2.0 / log(2.0))
    assert got[(1, 4)][0] == 2


def test_kcore_triangle_with_tail(spark):
    from abecto_spark.operators.graph_stats import kcore

    # 2-core of a triangle with a pendant tail is the triangle
    e = _edges(spark, [(1, 2), (2, 3), (3, 1), (3, 4)])
    got = rows_set(kcore(e, k=2), "node", "core_deg")
    assert got == {(1, 2), (2, 2), (3, 2)}


def test_kcore_empty_and_full(spark):
    from abecto_spark.operators.graph_stats import kcore

    # a path has no 2-core (endpoints peel until nothing is left)
    path = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    assert kcore(path, k=2).count() == 0
    # K4 is its own 3-core: round 1 removes nothing, which is convergence
    # (the kcore_15 oracle's unrolled rounds count the same way)
    k4 = _edges(spark, [(a, b) for a in range(1, 5) for b in range(a + 1, 5)])
    got = rows_set(kcore(k4, k=3, max_rounds=1), "node", "core_deg")
    assert got == {(1, 3), (2, 3), (3, 3), (4, 3)}


def test_kcore_round_bound_is_loud(spark):
    from abecto_spark.operators.graph_stats import GraphStatsError, kcore

    # peeling a 6-path with k=2 takes 3 rounds; a bound of 1 must raise
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)])
    with pytest.raises(GraphStatsError):
        kcore(e, k=2, max_rounds=1)
    # the bound at its edge: a 3-path with k=2 loses both edges in round
    # 1 and round 2 finds none removed, so its empty core needs 2 rounds
    path_3 = _edges(spark, [(1, 2), (2, 3)])
    assert kcore(path_3, k=2, max_rounds=2).count() == 0
    with pytest.raises(GraphStatsError):
        kcore(path_3, k=2, max_rounds=1)


def test_clustering_coefficient(spark):
    from abecto_spark.operators.graph_stats import clustering_coefficient

    # K4 + pendant on node 1: node 1 has deg 4 (3 triangles of 6 wedge
    # pairs), nodes 2-4 have deg 3 (3 of 3), the pendant has deg 1 -> 0
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    e = _edges(spark, k4 + [(1, 5)])
    got = {
        r["node"]: (r["deg"], r["n_triangles"], r["clustering"])
        for r in clustering_coefficient(e).collect()
    }
    assert got[1] == (4, 3, pytest.approx(0.5))
    for n in (2, 3, 4):
        assert got[n] == (3, 3, pytest.approx(1.0))
    assert got[5] == (1, 0, pytest.approx(0.0))


def test_degree_assortativity_star_is_minus_one(spark):
    from abecto_spark.operators.graph_stats import degree_assortativity

    # a star graph is perfectly disassortative
    e = _edges(spark, [(1, 2), (1, 3), (1, 4)])
    row = degree_assortativity(e).collect()[0]
    assert row["assortativity"] == pytest.approx(-1.0)
    assert row["n_edges"] == 3


def test_pagerank_resumable_matches_and_resumes(spark, tmp_path):
    from abecto_spark.operators.graph_stats import pagerank
    from abecto_spark.sources.checkpoint import SnapshotStore

    pairs = [(1, 2), (1, 3), (2, 3), (3, 4), (5, 3), (5, 1)]
    e = _edges(spark, pairs)
    store = SnapshotStore(spark, str(tmp_path / "pr"))
    full = {r["node"]: r["rank"] for r in pagerank(e, iterations=5).collect()}
    got = {
        r["node"]: r["rank"]
        for r in pagerank(e, iterations=5, store=store).collect()
    }
    assert set(got) == set(full)
    for k in full:
        assert got[k] == pytest.approx(full[k], rel=1e-12)
    # simulate a kill after iteration 3: wipe snapshots 4 and 5, resume
    import shutil

    for i in (4, 5):
        shutil.rmtree(str(tmp_path / "pr" / f"pagerank_iter_{i}"))
    resumed = {
        r["node"]: r["rank"]
        for r in pagerank(e, iterations=5, store=store).collect()
    }
    for k in full:
        assert resumed[k] == pytest.approx(full[k], rel=1e-12)
    # a fresh run with resume=False must not read stale snapshots
    fresh = {
        r["node"]: r["rank"]
        for r in pagerank(e, iterations=5, store=store, resume=False).collect()
    }
    for k in full:
        assert fresh[k] == pytest.approx(full[k], rel=1e-12)


def test_bfs_distances_chain_and_cycle(spark):
    from abecto_spark.operators.graph_stats import bfs_distances

    # 1→2→3→4 chain plus a back edge 3→1 (cycle must not re-settle 1)
    # and an unreachable island 9→10
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (3, 1), (9, 10)])
    seeds = spark.createDataFrame([(1,)], "node bigint")
    got = rows_set(bfs_distances(e, seeds, max_depth=8), "node", "dist")
    assert got == {(1, 0), (2, 1), (3, 2), (4, 3)}


def test_bfs_distances_multi_source_min(spark):
    from abecto_spark.operators.graph_stats import bfs_distances

    # node 3 is 2 hops from seed 1 but 1 hop from seed 5 → dist 1
    e = _edges(spark, [(1, 2), (2, 3), (5, 3), (3, 4)])
    seeds = spark.createDataFrame([(1,), (5,)], "node bigint")
    got = {r["node"]: r["dist"] for r in
           bfs_distances(e, seeds, max_depth=8).collect()}
    assert got == {1: 0, 5: 0, 2: 1, 3: 1, 4: 2}


def test_bfs_distances_depth_bound_and_undirected(spark):
    from abecto_spark.operators.graph_stats import bfs_distances

    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    seeds = spark.createDataFrame([(1,)], "node bigint")
    got = rows_set(bfs_distances(e, seeds, max_depth=2), "node", "dist")
    assert got == {(1, 0), (2, 1), (3, 2)}  # 4 is beyond the bound
    # undirected: seeding at the chain's far end walks backwards too
    seeds4 = spark.createDataFrame([(4,)], "node bigint")
    und = rows_set(
        bfs_distances(e, seeds4, max_depth=8, directed=False), "node", "dist"
    )
    assert und == {(4, 0), (3, 1), (2, 2), (1, 3)}


def test_personalized_pagerank_matches_numpy(spark):
    import numpy as np

    from abecto_spark.operators.graph_stats import personalized_pagerank

    # 4-node graph with a dangling node (4) and seeds {1}; reference is
    # the same fixed-k update computed densely in numpy
    pairs = [(1, 2), (1, 3), (2, 3), (3, 4)]
    e = _edges(spark, pairs)
    seeds = spark.createDataFrame([(1,)], "node bigint")
    k, d = 5, 0.85
    nodes = [1, 2, 3, 4]
    idx = {n: i for i, n in enumerate(nodes)}
    r = np.array([1.0, 0.0, 0.0, 0.0])
    outdeg = {1: 2.0, 2: 1.0, 3: 1.0}
    rank = r.copy()
    for _ in range(k):
        inflow = np.zeros(4)
        for s, t in pairs:
            inflow[idx[t]] += rank[idx[s]] / outdeg[s]
        dangling = rank[idx[4]]
        rank = (1 - d) * r + d * (inflow + dangling * r)
    got = {row["node"]: row["rank"]
           for row in personalized_pagerank(e, seeds, iterations=k).collect()}
    for n in nodes:
        assert got[n] == pytest.approx(rank[idx[n]], abs=1e-12)
    # mass never leaks: total rank stays 1 under the seed teleport
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_personalized_pagerank_all_seeds_equals_pagerank(spark):
    from abecto_spark.operators.graph_stats import (
        pagerank,
        personalized_pagerank,
    )

    # with every node a seed, r(v) = 1/N: the restart (1-d)·r and the
    # teleport dangling·r reduce to pagerank's (1-d)/N and dangling/N
    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (3, 1), (3, 4), (5, 4)])
    seeds = spark.createDataFrame([(n,) for n in range(1, 6)], "node bigint")
    pr = {r["node"]: r["rank"] for r in pagerank(e, iterations=5).collect()}
    ppr = {r["node"]: r["rank"]
           for r in personalized_pagerank(e, seeds, iterations=5).collect()}
    assert set(ppr) == set(pr) == {1, 2, 3, 4, 5}
    for n in pr:
        assert ppr[n] == pytest.approx(pr[n], abs=1e-12)


def test_personalized_pagerank_empty_seeds_is_loud(spark):
    from abecto_spark.operators.graph_stats import (
        GraphStatsError,
        personalized_pagerank,
    )

    e = _edges(spark, [(1, 2)])
    seeds = spark.createDataFrame([(99,)], "node bigint")  # not in graph
    with pytest.raises(GraphStatsError):
        personalized_pagerank(e, seeds)


def test_pagerank_weighted_matches_numpy(spark):
    import numpy as np

    from abecto_spark.operators.graph_stats import pagerank_weighted

    # weighted digraph with a dangling node (4); weights steer the split
    pairs = [(1, 2, 3.0), (1, 3, 1.0), (2, 3, 2.0), (3, 4, 1.0)]
    e = spark.createDataFrame(pairs, "src bigint, dst bigint, w double")
    k, d = 5, 0.85
    nodes = [1, 2, 3, 4]
    idx = {n: i for i, n in enumerate(nodes)}
    wsum = {1: 4.0, 2: 2.0, 3: 1.0}
    rank = np.full(4, 0.25)
    for _ in range(k):
        inflow = np.zeros(4)
        for s, t, w in pairs:
            inflow[idx[t]] += rank[idx[s]] * w / wsum[s]
        dangling = rank[idx[4]]
        rank = (1 - d) / 4 + d * (inflow + dangling / 4)
    got = {r["node"]: r["rank"]
           for r in pagerank_weighted(e, iterations=k).collect()}
    for n in nodes:
        assert got[n] == pytest.approx(rank[idx[n]], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_weighted_uniform_weights_equal_unweighted(spark):
    from pyspark.sql import functions as F

    from abecto_spark.operators.graph_stats import pagerank, pagerank_weighted

    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (3, 1), (3, 4)])
    ew = e.withColumn("w", F.lit(20.0))
    uw = {r["node"]: r["rank"] for r in pagerank(e, iterations=4).collect()}
    ww = {r["node"]: r["rank"]
          for r in pagerank_weighted(ew, iterations=4).collect()}
    for n in uw:
        assert ww[n] == pytest.approx(uw[n], abs=1e-12)


def test_label_propagation_two_cliques_with_bridge(spark):
    from abecto_spark.operators.graph_stats import label_propagation

    # two triangles {1,2,3} and {10,11,12} joined by one bridge 3-10:
    # the cliques converge to two DISTINCT stable labels (hand-traced
    # sync rounds: node 10 adopts 3 in round 1 — its min neighbor —
    # and that label then saturates its clique, while {1,2,3} settles
    # on 1; the bridge never merges the communities because two
    # in-clique votes beat one bridge vote from round 2 on)
    pairs = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)]
    got = {
        r["node"]: r["label"]
        for r in label_propagation(_edges(spark, pairs), rounds=4).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 3, 11: 3, 12: 3}
    # and the two communities are distinct
    assert got[1] != got[10]


def test_label_propagation_matches_python_sync_rounds(spark):
    from abecto_spark.operators.graph_stats import label_propagation

    # deterministic reference: the same synchronous update in plain
    # Python (most frequent neighbor label, min tie-break), 3 rounds,
    # on a graph with an odd cycle + pendant so labels genuinely churn
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1), (5, 6), (2, 6)]
    nbrs: dict[int, list[int]] = {}
    for a, b in pairs:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    lab = {u: u for u in nbrs}
    for _ in range(3):
        nxt = {}
        for u in nbrs:
            counts: dict[int, int] = {}
            for v in nbrs[u]:
                counts[lab[v]] = counts.get(lab[v], 0) + 1
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[u] = best[0]
        lab = nxt
    got = {
        r["node"]: r["label"]
        for r in label_propagation(_edges(spark, pairs), rounds=3).collect()
    }
    assert got == lab


def test_label_propagation_ignores_direction_and_duplicates(spark):
    from abecto_spark.operators.graph_stats import label_propagation

    # (5,6) three times in both orientations must count as ONE
    # undirected edge and the self-loop (5,5) is dropped: node 5's vote
    # tally is then {4:1, 6:1} and the min tie-break elects 4 — if
    # duplicates were counted, 6 would win 2:1
    pairs = [(4, 5), (5, 6), (6, 5), (5, 6), (5, 5)]
    got = {
        r["node"]: r["label"]
        for r in label_propagation(_edges(spark, pairs), rounds=1).collect()
    }
    assert got == {4: 5, 5: 4, 6: 5}


def test_label_propagation_rounds_guard(spark):
    from abecto_spark.operators.graph_stats import (
        GraphStatsError,
        label_propagation,
    )

    with pytest.raises(GraphStatsError):
        label_propagation(_edges(spark, [(1, 2)]), rounds=0)


# ---------------------------------------------------------------------------
# HITS


def test_hits_matches_numpy(spark):
    import numpy as np

    pairs = [(1, 2), (1, 3), (2, 3), (4, 3), (3, 1), (4, 2)]
    k = 5
    nodes = sorted({u for p in pairs for u in p})
    idx = {u: i for i, u in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for u, v in pairs:
        A[idx[u], idx[v]] = 1.0
    hub = np.ones(len(nodes))
    for _ in range(k):
        auth = A.T @ hub
        auth = auth / np.linalg.norm(auth)
        hub = A @ auth
        hub = hub / np.linalg.norm(hub)

    from abecto_spark.operators.graph_stats import hits

    got = {r["node"]: (r["hub"], r["auth"]) for r in
           hits(_edges(spark, pairs), iterations=k).collect()}
    assert set(got) == set(nodes)
    for u in nodes:
        assert got[u][0] == pytest.approx(hub[idx[u]], abs=1e-9)
        assert got[u][1] == pytest.approx(auth[idx[u]], abs=1e-9)


def test_hits_sink_has_zero_hub_source_zero_auth(spark):
    # 1 -> 2 -> 3: node 3 never points anywhere (hub 0), node 1 is never
    # pointed at (auth 0)
    from abecto_spark.operators.graph_stats import hits

    got = {r["node"]: (r["hub"], r["auth"]) for r in
           hits(_edges(spark, [(1, 2), (2, 3)]), iterations=3).collect()}
    assert got[3][0] == 0.0
    assert got[1][1] == 0.0
    assert got[1][0] > 0 and got[2][0] > 0
    assert got[2][1] > 0 and got[3][1] > 0


def test_hits_iterations_guard(spark):
    from abecto_spark.operators.graph_stats import GraphStatsError, hits

    with pytest.raises(GraphStatsError):
        hits(_edges(spark, [(1, 2)]), iterations=0)


# ---------------------------------------------------------------------------
# harmonic centrality


def test_harmonic_centrality_hand_traced(spark):
    # path 1 -> 2 -> 3 -> 4 plus shortcut 1 -> 3; seeds {1, 2}:
    #   d(1,2)=1 d(1,3)=1 d(1,4)=2 ; d(2,3)=1 d(2,4)=2
    #   harmonic(2) = 1        (from seed 1)
    #   harmonic(3) = 1 + 1 = 2
    #   harmonic(4) = 1/2 + 1/2 = 1
    from abecto_spark.operators.graph_stats import harmonic_centrality

    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (1, 3)])
    seeds = spark.createDataFrame([(1,), (2,)], "node bigint")
    got = {r["node"]: r["harmonic"] for r in
           harmonic_centrality(e, seeds, max_depth=6).collect()}
    assert got == {2: pytest.approx(1.0), 3: pytest.approx(2.0),
                   4: pytest.approx(1.0)}


def test_harmonic_centrality_depth_bound_and_cycles(spark):
    # 4-cycle, single seed, depth 2: nodes beyond 2 hops contribute
    # nothing; the seed itself (dist 0) is excluded
    from abecto_spark.operators.graph_stats import harmonic_centrality

    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    seeds = spark.createDataFrame([(1,)], "node bigint")
    got = {r["node"]: r["harmonic"] for r in
           harmonic_centrality(e, seeds, max_depth=2).collect()}
    assert got == {2: pytest.approx(1.0), 3: pytest.approx(0.5)}


def test_harmonic_centrality_seed_reached_by_other_seed(spark):
    # both endpoints of 1 <-> 2 are seeds: each scores 1 from the other,
    # its own dist-0 row excluded
    from abecto_spark.operators.graph_stats import harmonic_centrality

    e = _edges(spark, [(1, 2), (2, 1)])
    seeds = spark.createDataFrame([(1,), (2,)], "node bigint")
    got = {r["node"]: r["harmonic"] for r in
           harmonic_centrality(e, seeds, max_depth=4).collect()}
    assert got == {1: pytest.approx(1.0), 2: pytest.approx(1.0)}


# ---------------------------------------------------------------------------
# bounded weighted shortest distances


def test_weighted_distances_hand_traced(spark):
    # 1 -> 2 (w 5), 1 -> 3 (w 1), 3 -> 2 (w 1): the 2-hop path to 2 is
    # cheaper than the direct edge
    from abecto_spark.operators.graph_stats import weighted_distances

    e = spark.createDataFrame(
        [(1, 2, 5.0), (1, 3, 1.0), (3, 2, 1.0)],
        "src bigint, dst bigint, w double",
    )
    seeds = spark.createDataFrame([(1,)], "node bigint")
    got = {r["node"]: r["dist"] for r in
           weighted_distances(e, seeds, max_hops=6).collect()}
    assert got == {1: 0.0, 2: 2.0, 3: 1.0}
    # the loop keeps going while distances improve: round 3 improves
    # node 2 (10 -> 3 via 1-3-4-2) without reaching a new node, and only
    # round 4 carries that to node 5 (11 -> 4); a probe that stops when
    # no new node is reached returns 5: 11
    e = spark.createDataFrame(
        [(1, 2, 10.0), (2, 5, 1.0), (1, 3, 1.0), (3, 4, 1.0), (4, 2, 1.0)],
        "src bigint, dst bigint, w double",
    )
    got = {r["node"]: r["dist"] for r in
           weighted_distances(e, seeds, max_hops=6).collect()}
    assert got == {1: 0.0, 2: 3.0, 3: 1.0, 4: 2.0, 5: 4.0}


def test_weighted_distances_hop_bound(spark):
    # chain 1->2->3->4, unit weights, bound 2: node 4 unreachable
    from abecto_spark.operators.graph_stats import weighted_distances

    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)],
        "src bigint, dst bigint, w double",
    )
    seeds = spark.createDataFrame([(1,)], "node bigint")
    got = {r["node"]: r["dist"] for r in
           weighted_distances(e, seeds, max_hops=2).collect()}
    assert got == {1: 0.0, 2: 1.0, 3: 2.0}


def test_weighted_distances_negative_weight_is_loud(spark):
    from abecto_spark.operators.graph_stats import (
        GraphStatsError,
        weighted_distances,
    )

    e = spark.createDataFrame(
        [(1, 2, -1.0)], "src bigint, dst bigint, w double"
    )
    seeds = spark.createDataFrame([(1,)], "node bigint")
    with pytest.raises(GraphStatsError):
        weighted_distances(e, seeds)


# ---------------------------------------------------------------------------
# deterministic walks


def test_deterministic_walks_hand_traced(spark):
    # node 1: neighbors [2, 3] (ranks 1, 2); node 2: [3]; node 3: [1]
    # walk from 1: step1 pick = 1 + (1*31+1) % 2 = 1 -> node 2
    #              step2 pick = 1 + (2*31+2) % 1 = 1 -> node 3
    #              step3 pick = 1 + (3*31+3) % 1 = 1 -> node 1
    from abecto_spark.operators.graph_stats import deterministic_walks

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1)], "src bigint, dst bigint"
    )
    seeds = spark.createDataFrame([(1,)], "node bigint")
    got = sorted(
        (r["step"], r["node"])
        for r in deterministic_walks(e, seeds, walk_length=3).collect()
    )
    assert got == [(0, 1), (1, 2), (2, 3), (3, 1)]


def test_deterministic_walks_negative_ids_are_loud(spark):
    # a negative source gives a residue <= 0 that matches no neighbor
    # rank, which would truncate the walk silently
    from abecto_spark.operators.graph_stats import (
        GraphStatsError,
        deterministic_walks,
    )

    e = spark.createDataFrame(
        [(-1, 2), (-1, 3), (2, -1)], "src bigint, dst bigint"
    )
    seeds = spark.createDataFrame([(2,)], "node bigint")
    with pytest.raises(GraphStatsError, match="non-negative node ids"):
        deterministic_walks(e, seeds)


def test_deterministic_walks_stop_at_sink(spark):
    # 1 -> 2, 2 has no out-edges: the walk ends after step 1
    from abecto_spark.operators.graph_stats import deterministic_walks

    e = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    seeds = spark.createDataFrame([(1,)], "node bigint")
    rows = deterministic_walks(e, seeds, walk_length=4).collect()
    assert sorted((r["step"], r["node"]) for r in rows) == [(0, 1), (1, 2)]


def test_deterministic_walks_replay_identical(spark):
    # same input -> bit-identical corpus, regardless of partitioning
    from abecto_spark.operators.graph_stats import deterministic_walks

    e = spark.createDataFrame(
        [(i, (i * 7) % 23 + 1) for i in range(1, 24)] +
        [(i, (i * 11) % 23 + 1) for i in range(1, 24)],
        "src bigint, dst bigint",
    )
    seeds = spark.createDataFrame([(i,) for i in (1, 5, 9)], "node bigint")
    a = sorted(map(tuple, deterministic_walks(e, seeds, 4).collect()))
    b = sorted(map(tuple,
                   deterministic_walks(e.repartition(13), seeds, 4).collect()))
    assert a == b and len(a) == 15


def test_deterministic_walks_string_ids_are_loud(spark):
    from abecto_spark.operators.graph_stats import (
        GraphStatsError,
        deterministic_walks,
    )

    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")
    with pytest.raises(GraphStatsError, match="integer node ids"):
        deterministic_walks(e, seeds)
