"""Transitive mapping closure as distributed connected components, plus the
incorrespondence veto.

Replaces the reference's forward-rule RETE closure
(`MappingProcessor.java:38-50,124-143`): the symmetric+transitive closure of
``correspondsToResource`` is never materialized as O(n²) pairs — instead
every resource gets a ``canonical_id`` (the lexicographically smallest
member of its connected component, matching the reference's
group-representative convention, `Processor.java:216-218`), and group
membership is the product.

Incorrespondence semantics (`MappingProcessor.java:94-122`, README
`:389-394` first-wins precedence):
  * ``corr`` edges contradicting an earlier ``incorr`` edge are rejected,
  * ``incorr`` edges contradicting an earlier ``corr`` closure are rejected,
  * ``incorr`` propagates over ``corr`` clusters (incorr ∘ corr → incorr),
    which falls out of checking incorrespondence at cluster level.

The distributed CC loop is min-label propagation on ``rules.iterate``
(one ``cc_round`` — the ``rules.min_relax_round`` SSSP also runs — per
round, lineage cut by ``localCheckpoint``; Catalyst does not iterate,
SURVEY.md §4). Rounds ≈ cluster diameter; entity-link clusters are
near-cliques so this converges in a handful of rounds even at 10^12-doc
design scale, and every round is a plain shuffle join that AQE re-plans
(skew-safe for hot hub resources).

Every cluster-level check maps edges through the canonical map the same
way, ``_cluster_edges``: a resource outside the map is its own cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .rules import FixpointNotConverged, iterate, min_relax_round, relaxed


def _proper_edges(edges: DataFrame) -> DataFrame:
    """The distinct (src, dst) rows of ``edges`` without self-loops."""
    return edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()


def cc_round(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One distributed CC round over the symmetric edges ``sym``, lazily:
    ``rules.min_relax_round`` with the neighbours' labels as messages (the
    old label rides along, so the probe needs no join)."""
    msgs = sym.join(labels.withColumnRenamed("node", "src"), "src").select(
        F.col("dst").alias("node"), "label"
    )
    return min_relax_round(labels, msgs, "label")


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    small_threshold: int | None = None,
) -> DataFrame:
    """(resource, canonical_id) for every node appearing in ``edges``;
    canonical_id = min(member) of the component.

    Small edge sets short-circuit to a driver union-find (Arrow transfer
    both ways) — one collect instead of O(diameter) shuffle rounds.
    Measured crossover on this class of graph is ~2M bidirected edges
    (union-find ~11 s vs distributed ~19 s at 1.4M edges, and the
    distributed rounds win beyond that); the threshold is on edges after
    distinct, not docs, and is a deployment knob: pass ``small_threshold``
    explicitly or set ``ABECTO_CC_LOCAL_EDGE_MAX`` (0 disables the
    short-circuit entirely; an edge row is ~100 B on the driver, so the
    default 2M caps driver usage at a few hundred MB). The intended
    caller regime is *value-level* graphs (canonical_from_value_links),
    which are orders of magnitude smaller than resource graphs.

    The distributed rounds raise ``rules.FixpointNotConverged`` if labels
    still change in round ``max_iterations`` (a component of diameter
    above ``max_iterations``) instead of returning partial labels.
    """
    if small_threshold is None:
        import os

        small_threshold = int(os.environ.get("ABECTO_CC_LOCAL_EDGE_MAX", 2_000_000))
    spark = edges.sparkSession
    both = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sym = _proper_edges(both).localCheckpoint(eager=True)

    n_edges = sym.count()
    if n_edges == 0:
        from ..model import CANONICAL_SCHEMA

        return spark.createDataFrame([], CANONICAL_SCHEMA)
    if n_edges <= small_threshold:
        import numpy as np
        import pandas as pd

        # C-speed driver CC: factorize node strings (hash-based, no sort),
        # scatter-min label propagation with pointer jumping over the int
        # edge arrays, then the lexicographic-min member per component.
        # ~2x the python union-find at the 2M-edge ceiling, and the loop
        # body is numpy, not a per-edge interpreter loop.
        #
        # Factorize over UTF-8 BYTES: pandas' string hash table follows
        # C-string semantics and collapses values at the first NUL byte,
        # so two ids that differ only after a NUL would become one node
        # and merge their clusters. Bytes objects hash length-aware, and
        # UTF-8 byte order == codepoint order, so min-reps transfer.
        pdf = sym.toPandas()  # Arrow transfer
        enc = np.concatenate([
            pdf["src"].str.encode("utf-8").to_numpy(),
            pdf["dst"].str.encode("utf-8").to_numpy(),
        ])
        codes, uniq_b = pd.factorize(enc)
        n_e = len(pdf)
        src_i, dst_i = codes[:n_e], codes[n_e:]
        label = np.arange(len(uniq_b), dtype=np.int64)
        while True:
            nxt = label.copy()
            np.minimum.at(nxt, src_i, label[dst_i])
            np.minimum.at(nxt, dst_i, label[src_i])
            nxt = nxt[nxt]
            nxt = nxt[nxt]
            if np.array_equal(nxt, label):
                break
            label = nxt
        uniq = np.array([x.decode("utf-8") for x in uniq_b], dtype=object)
        agg = pd.Series(uniq).groupby(label).min()
        rep_by_root = np.empty(len(uniq), dtype=object)
        rep_by_root[agg.index.to_numpy()] = agg.to_numpy()
        out = pd.DataFrame(
            {"resource": uniq, "canonical_id": rep_by_root[label]}
        )
        return spark.createDataFrame(out)  # Arrow path, not row pickling

    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    ).localCheckpoint(eager=True)

    labels, converged = iterate(
        labels, lambda lab, _i: cc_round(sym, lab), max_iterations, relaxed("label")
    )
    if not converged:
        raise FixpointNotConverged(
            f"connected components did not converge in {max_iterations} rounds"
        )

    return labels.select(
        F.col("node").alias("resource"), F.col("label").alias("canonical_id")
    )


def incremental_canonical(canonical: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Admit a batch of correspondence edges into an existing canonical
    map WITHOUT re-running connected components over the accumulated
    edge history — the O(|batch|) admission shape for corpus growth
    (the CC analog of ``dedup.incremental_dedup``).

    Equivalence: ``incremental_canonical(connected_components(H), B)``
    produces exactly ``connected_components(H ∪ B)`` (tested, and the
    ``incremental_canonical`` driver oracle replays the full closure),
    because canonical ids are minimum members: mapping each batch edge
    through the existing labels yields a *label-level merge graph* whose
    nodes are old canonical ids and brand-new resources, and the minimum
    label of a merged component equals the minimum member of the merged
    clusters.

    Cost: CC runs only on the label-level merge graph (≤ |batch| edges —
    typically tiny vs. history); the relabel is one join keyed on
    canonical_id (broadcastable — the merge map has at most 2·|batch|
    rows) plus an anti-join for new resources.  History edges are never
    touched, so per-batch cost is independent of corpus size.
    """
    batch = _proper_edges(new_edges).localCheckpoint(eager=True)
    label_edges = (
        _cluster_edges(batch, canonical)
        .select(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    merge_map = connected_components(label_edges)  # (label, new canonical)
    # at most 2·|batch| rows — AQE turns the relabel join into a
    # broadcast when the batch is admission-sized (no forced hint, so a
    # bulk back-fill batch degrades to a shuffle join instead of OOM)
    relabel = merge_map.select(
        F.col("resource").alias("canonical_id"),
        F.col("canonical_id").alias("new_canonical"),
    )
    updated = canonical.join(relabel, "canonical_id", "left").select(
        "resource",
        F.coalesce("new_canonical", F.col("canonical_id")).alias("canonical_id"),
    )
    new_nodes = (
        batch.select(F.col("src").alias("resource"))
        .unionByName(batch.select(F.col("dst").alias("resource")))
        .distinct()
        .join(canonical.select("resource"), "resource", "left_anti")
    )
    # every brand-new resource is a node of the label graph (its edge
    # cannot have been degenerate: it maps to itself, the other side to
    # an existing resource id or itself, and ids are distinct)
    new_rows = new_nodes.join(merge_map, "resource").select(
        "resource", "canonical_id"
    )
    return updated.unionByName(new_rows)


def canonical_from_value_links(
    links: DataFrame,
    values: DataFrame,
    variables: list[str],
    case_sensitive: bool = False,
) -> DataFrame:
    """Canonical map from *value-level* match links — the scale path for
    similarity linking.

    Resource-level CC drags O(resources) nodes through every round;
    but every JW edge factors through a matched (dataset, variable,
    value) pair, and distinct values are orders of magnitude fewer than
    resources (10^8 vs 10^12 at the design point). So: run CC on the
    value graph (match links + same-resource bridges for multi-value
    resources, which is how the reference's transitive closure merges
    clusters through shared resources), then assign every resource its
    value-cluster by one join and take min(resource) per cluster as the
    canonical id — identical output to CC over the fanned-out resource
    edges, without ever materializing them.

    ``links``: (d1, variable, v1, d2, v2[, score]) from
    ``jw_mapping(..., return_value_links=True)``.
    ``values``: the long values table (same one given to jw_mapping).
    """
    from .jw_mapping import value_index

    idx = value_index(values, variables, case_sensitive)
    vnode = lambda d, var, v: F.concat_ws("\x1f", d, var, v)  # noqa: E731

    vedges = links.select(
        vnode(F.col("d1"), F.col("variable"), F.col("v1")).alias("src"),
        vnode(F.col("d2"), F.col("variable"), F.col("v2")).alias("dst"),
    )

    # bridges: a resource holding two *matched* values merges their
    # clusters (transitivity through the resource). Restrict to matched
    # values so the value graph stays O(matched values).
    matched = (
        vedges.select(F.col("src").alias("vn"))
        .unionByName(vedges.select(F.col("dst").alias("vn")))
        .distinct()
    )
    rv = idx.select(
        "resource", vnode(F.col("dataset"), F.col("variable"), F.col("value")).alias("vn")
    ).join(matched, "vn", "left_semi")
    w = Window.partitionBy("resource")
    bridges = (
        rv.withColumn("lo", F.min("vn").over(w))
        .where(F.col("vn") != F.col("lo"))
        .select(F.col("lo").alias("src"), F.col("vn").alias("dst"))
        .distinct()
    )

    vcc = connected_components(vedges.unionByName(bridges))  # (resource→vn, canonical→vcluster)
    vmap = vcc.select(F.col("resource").alias("vn"), F.col("canonical_id").alias("vc"))

    rmap = rv.join(vmap, "vn").select("resource", "vc").distinct()
    # one shuffle (window on vc), not groupBy + join back
    wc = Window.partitionBy("vc")
    return rmap.select(
        "resource", F.min("resource").over(wc).alias("canonical_id")
    )


def canonicalize(resources: DataFrame, canonical: DataFrame, col: str = "resource") -> DataFrame:
    """Attach ``canonical_id`` (falling back to the resource itself for
    singletons) to any table with a resource column."""
    return (
        resources.join(
            canonical.withColumnRenamed("resource", col), col, "left"
        ).withColumn("canonical_id", F.coalesce("canonical_id", F.col(col)))
    )


def _cluster_edges(edges: DataFrame, canonical: DataFrame) -> DataFrame:
    """(src, dst) ``edges`` plus each endpoint's cluster, ``c_src`` and
    ``c_dst`` (its canonical id, or the resource itself outside
    ``canonical``), and the normalized pair ``c_lo`` <= ``c_hi``."""
    c_src = canonical.select(
        F.col("resource").alias("src"), F.col("canonical_id").alias("c_src")
    )
    c_dst = canonical.select(
        F.col("resource").alias("dst"), F.col("canonical_id").alias("c_dst")
    )
    return (
        edges.join(c_src, "src", "left")
        .join(c_dst, "dst", "left")
        .withColumn("c_src", F.coalesce("c_src", F.col("src")))
        .withColumn("c_dst", F.coalesce("c_dst", F.col("dst")))
        .withColumn("c_lo", F.least("c_src", "c_dst"))
        .withColumn("c_hi", F.greatest("c_src", "c_dst"))
    )


class MappingGraph:
    """Stage-ordered accumulation of correspondence / incorrespondence
    edges with veto checks, mirroring the reference's behavior where each
    mapping step sees the closure of all earlier steps.

    Usage::

        g = MappingGraph(spark)
        g.add_incorrespondences(curated_incorr)      # earlier step wins
        g.add_correspondences(jw_edges)              # vetoed vs incorr
        canonical = g.canonical()                    # (resource, canonical_id)
    """

    def __init__(self, spark, corr: DataFrame | None = None, incorr: DataFrame | None = None):
        from ..model import EDGES_SCHEMA

        self.spark = spark
        empty = spark.createDataFrame([], EDGES_SCHEMA)
        self.corr = corr if corr is not None else empty
        self.incorr = incorr if incorr is not None else empty
        self._has_corr = corr is not None
        self._has_incorr = incorr is not None
        self._canonical: DataFrame | None = None

    def canonical(self) -> DataFrame:
        if self._canonical is None:
            self._canonical = connected_components(self.corr).localCheckpoint(eager=True)
        return self._canonical

    def add_correspondences(self, new_edges: DataFrame, max_conflict_rounds: int = 3) -> DataFrame:
        """Accept a batch of corr edges, vetoing contradictions with the
        existing incorrespondence closure. Returns the accepted edges."""
        cand = _proper_edges(new_edges).localCheckpoint(eager=True)
        if not self._has_incorr:
            # no constraints: plain accumulate; maintain the canonical map
            # incrementally when one exists (O(|batch|), history untouched)
            self.corr = self.corr.unionByName(cand).localCheckpoint(eager=True)
            if self._canonical is not None:
                self._canonical = incremental_canonical(
                    self._canonical, cand
                ).localCheckpoint(eager=True)
            self._has_corr = True
            return cand
        for _ in range(max_conflict_rounds):
            canonical = self.canonical()
            # cluster-level incorrespondence closure (incorr ∘ corr → incorr)
            incorr_cl = (
                _cluster_edges(self.incorr, canonical).select("c_lo", "c_hi").distinct()
            )
            cand_cl = _cluster_edges(cand, canonical)
            # direct veto: an edge merging two clusters known incorrespondent
            accepted = (
                cand_cl.join(F.broadcast(incorr_cl), ["c_lo", "c_hi"], "left_anti")
                .select("src", "dst")
                .localCheckpoint(eager=True)
            )
            merged = self.corr.unionByName(accepted)
            new_canonical = connected_components(merged).localCheckpoint(eager=True)
            # transitive conflicts: did the batch as a whole merge two sides
            # of an incorrespondence? (a—m, m—b added together while a!~b)
            violated = (
                _cluster_edges(self.incorr, new_canonical)
                .where(F.col("c_lo") == F.col("c_hi"))
                .select(F.col("c_lo").alias("bad_cluster"))
                .distinct()
            )
            if violated.isEmpty():
                self.corr = merged.localCheckpoint(eager=True)
                self._canonical = new_canonical
                self._has_corr = True
                return accepted
            # drop candidate edges that landed in a violated cluster and retry;
            # conservative vs. the reference's edge-at-a-time order (first wins)
            bad_nodes = (
                new_canonical.join(
                    F.broadcast(violated),
                    new_canonical.canonical_id == F.col("bad_cluster"),
                )
                .select("resource")
                .distinct()
            )
            cand = (
                accepted.join(
                    bad_nodes.withColumnRenamed("resource", "src"), "src", "left_anti"
                )
                .join(bad_nodes.withColumnRenamed("resource", "dst"), "dst", "left_anti")
                .localCheckpoint(eager=True)
            )
        # after max rounds, accept the non-conflicting remainder
        self.corr = self.corr.unionByName(cand).localCheckpoint(eager=True)
        self._canonical = None
        self._has_corr = True
        return cand

    def add_incorrespondences(self, new_edges: DataFrame) -> DataFrame:
        """Accept incorr edges unless the endpoints already correspond."""
        cand = _proper_edges(new_edges)
        if self._has_corr:
            cand_cl = _cluster_edges(cand, self.canonical())
            accepted = cand_cl.where(F.col("c_lo") != F.col("c_hi")).select("src", "dst")
        else:
            accepted = cand
        self.incorr = self.incorr.unionByName(accepted).localCheckpoint(eager=True)
        self._has_incorr = True
        return accepted

    def groups(self) -> DataFrame:
        """(canonical_id, members sorted array) — the reference's
        correspondence groups (`Processor.java:211-222`)."""
        return (
            self.canonical()
            .groupBy("canonical_id")
            .agg(F.sort_array(F.collect_set("resource")).alias("members"))
        )
