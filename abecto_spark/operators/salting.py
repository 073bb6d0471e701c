"""Salted triangle self-join: the skew guard shared by the JW bucket
scorer (``jw_mapping._score_buckets_duckdb``) and the within-group pair
builder (``property_cmp._group_pairs``).

A group of n rows self-joined in one task is n² pairs of work on one
core. With k = ceil(n / cap) each row gets salt s ∈ [0, k) and is
replicated to the pair-tasks (i, s) for i ≤ s and (s, j) for j > s.
Joining on (group, _ti, _tj) and keeping same-salt pairs only on the
diagonal (``_ti = _tj``) covers every pair of the group exactly once:
no task sees more than two salt groups (about 2·cap rows), at the price
of replicating each row k times.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TASKS = """
    concat(
      transform(sequence(0, _s), i -> struct(i AS ti, _s AS tj)),
      CASE WHEN _s < _k - 1
           THEN transform(sequence(_s + 1, _k - 1), j -> struct(_s AS ti, j AS tj))
           ELSE array() END
    )
"""


def salted_triangle(df: DataFrame, cap: int, salt_on: str, keep: list[str]) -> DataFrame:
    """``keep`` columns plus ``_s``, ``_ti``, ``_tj``: one row per
    pair-task of the row's salt. ``df`` carries its group's row count
    as ``_n``; a group of at most ``cap`` rows is the one task ``(0, 0)``.
    The salt is ``pmod(xxhash64(salt_on), k)``."""
    k = F.greatest(F.ceil(F.col("_n") / cap), F.lit(1)).cast("int")
    return (
        df.withColumn("_k", k)
        .withColumn("_s", F.pmod(F.xxhash64(salt_on), F.col("_k")).cast("int"))
        .withColumn("_t", F.explode(F.expr(_TASKS)))
        .select(*keep, "_s", F.col("_t.ti").alias("_ti"), F.col("_t.tj").alias("_tj"))
    )
