"""Transitive mapping closure goldens transcribed from the reference's
MappingProcessorTest (`processor/MappingProcessorTest.java:61-263`,
FIXTURES.md F4): symmetry, transitivity (both insert orders),
incorrespondence symmetry, corr∘incorr chains, veto of contradicting
correspondences, no self-loops, group extraction.
"""

from __future__ import annotations

import pytest

from abecto_spark.operators.closure import MappingGraph, connected_components
from abecto_spark.operators.rules import FixpointNotConverged

from tests.conftest import rows_set


def _edges(spark, pairs):
    return spark.createDataFrame(list(pairs) or [], "src string, dst string")


def _clusters(g: MappingGraph):
    return {
        tuple(sorted(r["members"]))
        for r in g.groups().collect()
        if len(r["members"]) > 1
    }


def test_symmetric_and_transitive_both_orders(spark):
    # MappingProcessorTest.java:220-237
    for order in ([("r1", "r2"), ("r2", "r3")], [("r2", "r3"), ("r1", "r2")]):
        g = MappingGraph(spark)
        for e in order:
            g.add_correspondences(_edges(spark, [e]))
        assert _clusters(g) == {("r1", "r2", "r3")}
        cc = {r["resource"]: r["canonical_id"] for r in g.canonical().collect()}
        assert cc == {"r1": "r1", "r2": "r1", "r3": "r1"}


def test_no_self_loops(spark):
    # addCorrespondence(resource1) alone adds nothing (:68-71)
    g = MappingGraph(spark)
    g.add_correspondences(_edges(spark, [("r1", "r1")]))
    assert g.corr.count() == 0


def test_group_extraction(spark):
    # :174-218 — groups keyed by lexicographically smallest member
    g = MappingGraph(spark)
    g.add_correspondences(
        _edges(spark, [("r1", "r2"), ("r1", "r3"), ("r4", "r5"), ("r6", "r7")])
    )
    assert _clusters(g) == {("r1", "r2", "r3"), ("r4", "r5"), ("r6", "r7")}


def test_contradiction_veto(spark):
    # :114-120 — corr contradicting existing incorr is rejected
    g = MappingGraph(spark)
    g.add_incorrespondences(_edges(spark, [("r1", "r2")]))
    accepted = g.add_correspondences(_edges(spark, [("r1", "r2"), ("r1", "r3")]))
    got = rows_set(accepted, "src", "dst")
    assert ("r1", "r2") not in got and ("r2", "r1") not in got
    assert _clusters(g) == {("r1", "r3")}


def test_incorr_symmetry_and_chain(spark):
    # :239-254 — incorr is symmetric; corr∘incorr → incorr (cluster level)
    g = MappingGraph(spark)
    g.add_correspondences(_edges(spark, [("r1", "r2")]))
    g.add_incorrespondences(_edges(spark, [("r2", "r3")]))
    # r1 !~ r3 implicitly: linking r1-r3 must be vetoed
    g.add_correspondences(_edges(spark, [("r1", "r3")]))
    assert _clusters(g) == {("r1", "r2")}
    # insert order 2: incorr first
    g2 = MappingGraph(spark)
    g2.add_incorrespondences(_edges(spark, [("r2", "r3")]))
    g2.add_correspondences(_edges(spark, [("r1", "r2")]))
    g2.add_correspondences(_edges(spark, [("r3", "r1")]))
    assert _clusters(g2) == {("r1", "r2")}


def test_incorr_rejected_when_already_correspondent(spark):
    # :136-141 — incorr contradicting existing corr is rejected
    g = MappingGraph(spark)
    g.add_correspondences(_edges(spark, [("r1", "r2")]))
    accepted = g.add_incorrespondences(_edges(spark, [("r1", "r2")]))
    assert accepted.count() == 0


def test_batch_transitive_conflict(spark):
    # a batch whose combination bridges an incorrespondence is rejected
    g = MappingGraph(spark)
    g.add_incorrespondences(_edges(spark, [("a", "c")]))
    g.add_correspondences(_edges(spark, [("a", "m"), ("m", "c")]))
    # neither a..c may end corresponding
    cc = {r["resource"]: r["canonical_id"] for r in g.canonical().collect()}
    assert cc.get("a", "a") != cc.get("c", "c")


def test_connected_components_distributed_path(spark):
    edges = _edges(spark, [("n%02d" % i, "n%02d" % (i + 1)) for i in range(0, 20, 2)])
    cc = connected_components(edges, small_threshold=0)  # force distributed loop
    got = rows_set(cc, "resource", "canonical_id")
    expect = set()
    for i in range(0, 20, 2):
        expect.add(("n%02d" % i, "n%02d" % i))
        expect.add(("n%02d" % (i + 1), "n%02d" % i))
    assert got == expect


def test_connected_components_distributed_raises_past_its_bound(spark):
    """A 10-node chain needs more than two label-propagation rounds; the
    distributed loop must raise, not return the partial labels (at two
    rounds n09 still carries n07)."""
    edges = _edges(spark, [("n%02d" % i, "n%02d" % (i + 1)) for i in range(9)])
    with pytest.raises(FixpointNotConverged):
        connected_components(edges, max_iterations=2, small_threshold=0)
    got = rows_set(connected_components(edges, small_threshold=0), "canonical_id")
    assert got == {("n00",)}


def test_cc_nul_prefixed_node_names(spark):
    """Regression: pandas' string hash table follows C-string semantics
    and collapses values at the first NUL byte — ids that differ only
    after a '\\x00' must stay distinct (bytes-factorize path)."""
    from abecto_spark.operators.closure import connected_components

    edges = spark.createDataFrame(
        [
            ("r1", "\x00jw\x1fva"),
            ("r2", "\x00jw\x1fva"),
            ("r3", "\x00jw\x1fvb"),
            ("r4", "\x00jw\x1fvb"),
        ],
        "src string, dst string",
    )
    cc = connected_components(edges)
    comps = {}
    for r in cc.collect():
        comps.setdefault(r["canonical_id"], set()).add(r["resource"])
    real = sorted(
        tuple(sorted(x for x in v if not x.startswith("\x00")))
        for v in comps.values()
    )
    assert real == [("r1", "r2"), ("r3", "r4")]


def test_incremental_canonical_equals_full_cc(spark):
    import random

    from abecto_spark.operators.closure import (
        connected_components,
        incremental_canonical,
    )
    from tests.conftest import rows_set

    rnd = random.Random(7)
    nodes = [f"x{i:03d}" for i in range(60)]
    edges = [(rnd.choice(nodes), rnd.choice(nodes)) for _ in range(80)]
    edges = [e for e in edges if e[0] != e[1]]
    full = connected_components(
        spark.createDataFrame(edges, "src string, dst string")
    )
    for cut in (10, len(edges) // 2, len(edges) - 5):
        hist = spark.createDataFrame(edges[:cut], "src string, dst string")
        batch = spark.createDataFrame(edges[cut:], "src string, dst string")
        inc = incremental_canonical(connected_components(hist), batch)
        assert rows_set(inc, "resource", "canonical_id") == rows_set(
            full, "resource", "canonical_id"
        )


def test_incremental_canonical_new_resources_and_min_label(spark):
    from abecto_spark.operators.closure import (
        connected_components,
        incremental_canonical,
    )
    from tests.conftest import rows_set

    # batch brings a brand-new resource whose id is SMALLER than the
    # existing canonical: the merged cluster must re-elect it
    hist = spark.createDataFrame([("b", "c")], "src string, dst string")
    batch = spark.createDataFrame(
        [("a", "c"), ("x", "y")], "src string, dst string"
    )
    got = rows_set(
        incremental_canonical(connected_components(hist), batch),
        "resource",
        "canonical_id",
    )
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}


def test_mapping_graph_incremental_path_matches_recompute(spark):
    from abecto_spark.operators.closure import MappingGraph, connected_components
    from tests.conftest import rows_set

    g = MappingGraph(spark)
    b1 = spark.createDataFrame([("m", "n"), ("n", "o")], "src string, dst string")
    b2 = spark.createDataFrame([("o", "p"), ("q", "r")], "src string, dst string")
    g.add_correspondences(b1)
    g.canonical()  # force the map so the second batch takes the incremental path
    g.add_correspondences(b2)
    expect = connected_components(b1.unionByName(b2))
    assert rows_set(g.canonical(), "resource", "canonical_id") == rows_set(
        expect, "resource", "canonical_id"
    )
