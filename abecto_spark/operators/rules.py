"""The package's two round loops, each cutting lineage with a
``localCheckpoint`` per round (Catalyst does not iterate, SURVEY.md §4):
the set-growing ``fixpoint`` and the state-replacing ``iterate``.

``fixpoint`` is semi-naive evaluation, the Spark re-expression of the
reference's SparqlConstructProcessor / ForwardRuleReasoningProcessor
(`SparqlConstructProcessor.java:30-56`, `ForwardRuleReasoningProcessor.java:33-44`):
a rule is a join-project over the current relation; each round joins
only the *delta* against the full relation, until no new rows appear
(or ``max_iterations``). In round ``i`` (1-based)
``rule(delta, all_rows, i)`` builds candidates; the kernel keeps one per
``key`` (default: every column, i.e. ``distinct``; with a subset the
other columns must be a function of the key — deduplicating on it
partitions the rows as the anti-join needs), anti-joins ``all_rows`` on
``key`` and checkpoints eagerly. An empty round, or ``stop(new)``, ends
the loop; otherwise ``all_rows ∪ new`` is re-checkpointed. ``converged``
is false only when round ``max_iterations`` still added rows; callers
that would otherwise truncate silently raise on it.

Constraint propagation is off for the whole loop: Catalyst's Union
constraint inference trips over plans built from repeatedly
``localCheckpoint``-ed relations of filtered scans (``key not found:
<attr>#N``), and the inference is an optional optimisation. The switch
counts active loops under a lock — the first to enter saves the
session's value, the last to leave restores it — so loops on several
threads cannot leave it off.

``iterate``: round ``i`` is ``step(state, i)`` under a lazy
``localCheckpoint`` or, with a ``store``, snapshot stage
``{name}_iter_{i}`` (resumed when complete). ``until(prev, new)`` must
end in one full ``count()`` over ``new``, so one action materializes the
round and decides convergence. ``converged`` is false only when
``until`` never fired; raising or returning on it is the caller's call.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Sequence
from contextlib import contextmanager
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CP_KEY = "spark.sql.constraintPropagation.enabled"
_cp_lock = threading.Lock()
_cp_active = 0  # loops inside constraint_propagation_off
_cp_saved = "true"  # the value the first of them found
Rule = Callable[[DataFrame, DataFrame, int], DataFrame]
Step = Callable[[DataFrame, int], DataFrame]
Probe = Callable[[DataFrame, DataFrame], bool]


class FixpointNotConverged(RuntimeError):
    """A fixpoint still derived new rows in its last allowed round."""


@contextmanager
def constraint_propagation_off(spark: SparkSession):
    """Switch ``spark.sql.constraintPropagation.enabled`` off while any
    loop is inside; the last to leave restores the saved value."""
    global _cp_active, _cp_saved
    with _cp_lock:
        if _cp_active == 0:
            _cp_saved = spark.conf.get(_CP_KEY, "true")
            spark.conf.set(_CP_KEY, "false")
        _cp_active += 1
    try:
        yield
    finally:
        with _cp_lock:
            _cp_active -= 1
            if _cp_active == 0:
                spark.conf.set(_CP_KEY, _cp_saved)


def fixpoint_round(
    rule: Rule, delta: DataFrame, all_rows: DataFrame, i: int, key=None
) -> DataFrame:
    """Round ``i``'s new rows, lazily: ``rule``'s candidates, one per
    ``key``, minus every row of ``all_rows`` (anti-join on ``key``)."""
    key = list(key or all_rows.columns)
    return (
        rule(delta, all_rows, i)
        .dropDuplicates(key)
        .join(all_rows, key, "left_anti")
    )


def fixpoint(
    base: DataFrame,
    rule: Rule,
    max_iterations: int = 25,
    key: Sequence[str] | None = None,
    stop: Callable[[DataFrame], bool] | None = None,
) -> tuple[DataFrame, bool]:
    """Least fixpoint of ``base ∪ rule(delta, all, i)`` as ``(rows,
    converged)`` (round contract in the module docstring)."""
    with constraint_propagation_off(base.sparkSession):
        all_rows = base.distinct().localCheckpoint(eager=True)
        delta = all_rows
        for i in range(1, max_iterations + 1):
            new = fixpoint_round(rule, delta, all_rows, i, key)
            new = new.localCheckpoint(eager=True)
            if new.isEmpty():
                return all_rows, True
            all_rows = all_rows.unionByName(new).localCheckpoint(eager=True)
            delta = new
            if stop is not None and stop(new):
                return all_rows, True
        return all_rows, False


def iterate(
    state: DataFrame, step: Step, rounds: int, until: Probe | None = None,
    store=None, name: str = "", token: str = "", resume: bool = True,
) -> tuple[DataFrame, bool]:
    """Up to ``rounds`` rounds of ``state = step(state, i)`` as ``(state,
    converged)`` (round contract in the module docstring)."""
    for i in range(1, rounds + 1):
        if store is None:
            new = step(state, i).localCheckpoint()
        else:
            new, _ = store.stage(
                f"{name}_iter_{i}", token, partial(step, state, i), resume
            )
        if until is not None and until(state, new):
            return new, True
        state = new
    return state, False


def min_relax_round(state: DataFrame, msgs: DataFrame, col: str) -> DataFrame:
    """One min-relaxation round (CC's min label, SSSP's min distance),
    lazily: (node, ``col``, old) per node of ``state`` or ``msgs``, ``col``
    the min of its value and messages, ``old`` its value (NULL if new)."""
    old = F.lit(None).cast(state.schema[col].dataType)
    return (
        state.select("node", col, F.col(col).alias("old"))
        .unionByName(msgs.select("node", col, old.alias("old")))
        .groupBy("node")
        .agg(F.min(col).alias(col), F.min("old").alias("old"))
    )


def relaxed(col: str) -> Probe:
    """``iterate`` probe for ``min_relax_round`` loops: no row of the
    round changed (``old IS NULL OR col <> old``), counted in full."""
    changed = F.col("old").isNull() | (F.col(col) != F.col("old"))
    return lambda _prev, new: new.where(changed).count() == 0


def reach_rule(edges: DataFrame) -> Rule:
    """``reach(x,z) ← reach(x,y), edge(y,z)`` over (src, dst) edges."""

    def rule(delta: DataFrame, _all: DataFrame, _i: int) -> DataFrame:
        return (
            delta.alias("d")
            .join(edges.alias("e"), F.col("d.dst") == F.col("e.src"))
            .select(F.col("d.src").alias("src"), F.col("e.dst").alias("dst"))
        )

    return rule


def transitive_closure(edges: DataFrame, max_iterations: int = 25) -> DataFrame:
    """All-pairs reachability closure of (src, dst) edges; raises
    ``FixpointNotConverged`` if paths longer than ``max_iterations`` + 1
    edges still add pairs."""
    edges = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    reach, converged = fixpoint(edges, reach_rule(edges), max_iterations)
    if not converged:
        raise FixpointNotConverged(
            f"transitive closure did not converge in {max_iterations} rounds"
        )
    return reach
