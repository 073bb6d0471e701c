"""Jaro-Winkler entity linking (the reference's
`JaroWinklerMappingProcessor.java:37-127`) as a blocked similarity join.

Pipeline per variable and unordered dataset pair:

  1. value index: distinct (dataset, variable, normalized value) with the
     resource fan-out kept long — scoring cost is per *distinct string*,
     exactly like the reference's trie (hot values dedup before scoring,
     which also de-skews the similarity join).
  2. candidate generation: positional 2-gram blocking over the first four
     characters (``s[0:2], s[1:3], s[2:4]``) — any single edit in the
     prefix still shares a gram, recall measured in tests; ``block="cross"``
     gives the exact cartesian for golden verification.
  3. scoring, one path for both block modes and every threshold: the
     keyed strings are hash-partitioned by bucket and each task scores
     all its buckets in ONE DuckDB (C++) self-join + JW query via
     mapInArrow — candidates never leave the task; oversized buckets are
     salted into a triangle join (see _score_buckets_duckdb). Pairs whose
     DuckDB score could differ from the reference's (thresholds <= 0.82,
     non-ASCII strings) leave the query unscored and go through the
     exact vectorized numpy kernel (functions/jw.py) in the same task.
  4. per-direction argmax with **ties kept** (`maxValue`,
     `JaroWinklerMappingProcessor.java:112-127`): ``rank() == 1`` over a
     window — rank, not row_number.
  5. bidirectional filter (`:91-98`, commutativity) = inner join of the
     two argmax sets.
  6. fan-out back to resources (cross product of the matched values'
     resource sets, `:100-104`) — AQE skew-join handles hot values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .salting import salted_triangle

_SCORED_SCHEMA = (
    "d1 string, variable string, v1 string, d2 string, v2 string, score double"
)


# _score_buckets_duckdb's per-task query over t, the task's salted strings:
# one hash self-join over every bucket of the task; a salted cross task
# (ti < tj) keeps only the pairs across its two salt groups. DuckDB boosts
# only when jaro > 0.7, the reference always: the two agree on every pair
# scoring strictly above 0.82 (at jaro <= 0.7 the boosted score is <=
# 0.82), so at thresholds <= 0.82 ($boost false) every unequal pair leaves
# with a NULL score and is scored by the exact codepoint kernel in the
# task. So is a pair touching a non-ASCII string (byte length != char
# length): DuckDB's JW walks UTF-8 bytes.
_SCORER_SQL = """
WITH u AS (SELECT *, strlen(value) = length(value) AS _ascii FROM t)
SELECT * FROM (
  SELECT a.dataset AS d1, a.variable AS variable, a.value AS v1,
         b.dataset AS d2, b.value AS v2,
         CASE WHEN a.value = b.value THEN 1.0::DOUBLE
              WHEN $boost AND a._ascii AND b._ascii
              THEN jaro_winkler_similarity(a.value, b.value)
         END AS score
  FROM u a JOIN u b
    ON a.variable = b.variable AND a.bk = b.bk
   AND a._ti = b._ti AND a._tj = b._tj
   AND a.dataset < b.dataset AND (a._ti = a._tj OR a._s <> b._s)
   AND least(length(a.value), length(b.value))
       >= $r_min * greatest(length(a.value), length(b.value))
) WHERE score IS NULL OR score >= $threshold
"""


def _score_buckets_duckdb(
    keyed: DataFrame, threshold: float, r_min: float, bucket_cap: int = 4000
) -> DataFrame:
    """Quadratic scoring inside each blocking bucket, executed by DuckDB
    (C++) within the task — Arrow traffic into the task is O(strings),
    and the candidate pair stream never leaves it: DuckDB's result is
    read in 10k-row batches, the unscored pairs among them go through
    ``jaro_winkler_batch``, and only pairs at or above ``threshold`` are
    yielded. Pairs found via several shared grams are deduped downstream
    (output is post-threshold, tiny).

    The strings are hash-partitioned on the bucket key, so a bucket never
    splits across tasks, and each task runs one connection and one
    self-join keyed on the bucket for all of its buckets: the Python and
    DuckDB setup (~18 ms) is paid per task, not per bucket.

    Skew: a bucket of n strings is n² pairs of work in ONE task; hot
    prefixes (common name stems, CJK bigrams) and ``block="cross"``'s one
    bucket per variable grow with the value universe. Buckets over
    ``bucket_cap`` rows are *salted into a triangle join*
    (``salting.salted_triangle``): task (i, j≥i) scores exactly the cross
    pairs of salt groups i and j, so every pair is covered once and no
    task scores more than about cap² pairs, for a replication factor k on
    the (tiny) string rows."""

    cnt = keyed.groupBy("variable", "bk").agg(F.count("*").alias("_n"))
    exploded = salted_triangle(
        keyed.join(F.broadcast(cnt), ["variable", "bk"]), bucket_cap, "value",
        ["dataset", "variable", "value", "bk"],
    )

    def score(batches):
        import duckdb
        import pyarrow as pa
        import pyarrow.compute as pc

        from ..functions.jw import jaro_winkler_batch

        batches = list(batches)
        if not batches:
            return
        with duckdb.connect(config={"threads": 1}) as con:
            con.register("t", pa.Table.from_batches(batches))
            reader = con.execute(
                _SCORER_SQL,
                {"boost": bool(threshold > 0.82), "r_min": r_min, "threshold": threshold},
            ).fetch_record_batch(10_000)
            schema = pa.schema([
                (c, pa.float64() if c == "score" else pa.string())
                for c in reader.schema.names
            ])
            for batch in reader:
                out = pa.Table.from_batches([batch])
                exact = out["score"].is_null()
                if pc.any(exact).as_py():
                    cand = out.filter(exact)
                    s = jaro_winkler_batch(cand["v1"].to_pandas(), cand["v2"].to_pandas())
                    cand = cand.set_column(5, "score", pa.array(s)).filter(pa.array(s >= threshold))
                    out = pa.concat_tables([out.filter(pc.invert(exact)), cand])
                yield from out.cast(schema).to_batches()

    return (
        exploded.repartition("variable", "bk", "_ti", "_tj")
        .mapInArrow(score, _SCORED_SCHEMA)
        .dropDuplicates(["d1", "d2", "variable", "v1", "v2"])
    )


def _block_keys(col):
    """Array of positional 2-gram block keys over the first 4 chars."""
    return F.array_distinct(
        F.array(
            F.substring(col, 1, 2),
            F.substring(col, 2, 2),
            F.substring(col, 3, 2),
        )
    )


def value_index(values: DataFrame, variables: list[str], case_sensitive: bool) -> DataFrame:
    """(dataset, variable, value, resource) with the operator's value
    normalization applied — shared by linking and value-level
    canonicalization so both sides key on identical strings."""
    lit = values.where(
        (F.col("variable").isin(variables)) & (F.col("o_kind") == "literal")
    )
    norm = F.col("o_value") if case_sensitive else F.lower(F.col("o_value"))
    return lit.select("dataset", "variable", norm.alias("value"), "resource").distinct()


def jw_mapping(
    values: DataFrame,
    variables: list[str],
    threshold: float,
    case_sensitive: bool = False,
    block: str = "grams",
    return_value_links: bool = False,
) -> DataFrame:
    """Correspondence edges (src, dst) from JW linking over all unordered
    dataset pairs present in ``values``.

    ``values``: long table (dataset, resource, variable, o_kind, o_value,
    o_datatype, o_lang) — the aspect extraction output.
    """
    idx = value_index(values, variables, case_sensitive)

    strings = idx.select("dataset", "variable", "value").distinct()
    # "cross" is one bucket per variable: the exact cartesian, salted by
    # the scorer's bucket cap like any hot gram bucket
    bk = F.lit("") if block == "cross" else F.explode(_block_keys(F.col("value")))
    keyed = strings.select("dataset", "variable", "value", bk.alias("bk"))

    # Provable length-ratio prune: with prefix boost capped at 4·0.1,
    # jw >= t implies jaro >= (t-0.4)/0.6, and jaro <= (2 + min/max)/3,
    # so min_len/max_len >= 3·(t-0.4)/0.6 - 2. Same role as the
    # reference trie's length bound.
    r_min = max(3.0 * (threshold - 0.4) / 0.6 - 2.0, 0.0)
    scored = _score_buckets_duckdb(keyed, threshold, r_min)
    # the scored subtree feeds both argmax directions and (via bidi) two
    # resource fan-out joins — materialize once so the scorer runs once,
    # not up to four times (exchange reuse is unreliable under AQE, and a
    # lazy checkpoint shared by branches of a single job races its cache)
    scored = scored.localCheckpoint(eager=True)

    w_fwd = Window.partitionBy("d1", "d2", "variable", "v1").orderBy(F.desc("score"))
    w_bwd = Window.partitionBy("d1", "d2", "variable", "v2").orderBy(F.desc("score"))
    fwd = scored.withColumn("r", F.rank().over(w_fwd)).where(F.col("r") == 1).drop("r")
    bwd = scored.withColumn("r", F.rank().over(w_bwd)).where(F.col("r") == 1).drop("r")
    bidi = fwd.join(
        bwd.select("d1", "d2", "variable", "v1", "v2"),
        ["d1", "d2", "variable", "v1", "v2"],
        "left_semi",
    )

    if return_value_links:
        # matched value pairs, pre-resource-fan-out: the input to
        # value-level canonicalization (closure.canonical_from_value_links)
        return bidi.select("d1", "variable", "v1", "d2", "v2", "score")

    r1 = idx.select(
        F.col("dataset").alias("d1"),
        "variable",
        F.col("value").alias("v1"),
        F.col("resource").alias("src"),
    )
    r2 = idx.select(
        F.col("dataset").alias("d2"),
        "variable",
        F.col("value").alias("v2"),
        F.col("resource").alias("dst"),
    )
    edges = (
        bidi.join(r1, ["d1", "variable", "v1"])
        .join(r2, ["d2", "variable", "v2"])
        .select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    return edges
