"""Vectorized Jaro-Winkler vs scalar reference + JW mapping goldens
transcribed from the reference's JaroWinklerMappingProcessorTest
(`processor/JaroWinklerMappingProcessorTest.java:53-206`, FIXTURES.md F3).
"""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from abecto_spark.functions.jw import jaro_winkler_batch, jaro_winkler_ref
from abecto_spark.operators.jw_mapping import (
    _block_keys,
    _score_buckets_duckdb,
    jw_mapping,
)
from abecto_spark.operators.closure import connected_components

from tests.conftest import rows_set


def test_batch_matches_scalar_reference():
    random.seed(7)
    cases = [
        ("aaaaaaaaaaa", "aaaaaaaaaab"),
        ("efghefghefghefghefgh", "efghefghefghefghabcd"),
        ("abcdabcdabcdabcdabcd", "efghefghefghefghabcd"),
        ("martha", "marhta"),
        ("dixon", "dicksonx"),
        ("", ""),
        ("a", ""),
        ("abc", "abc"),
    ]
    for _ in range(1000):
        a = "".join(random.choices("abcdef", k=random.randint(0, 15)))
        b = "".join(random.choices("abcdef", k=random.randint(0, 15)))
        cases.append((a, b))
    got = jaro_winkler_batch(
        pd.Series([c[0] for c in cases]), pd.Series([c[1] for c in cases])
    )
    for (a, b), g in zip(cases, got):
        assert abs(jaro_winkler_ref(a, b) - g) < 1e-12, (a, b)


def _values(spark, rows):
    # rows: (dataset, resource, label)
    return spark.createDataFrame(
        [
            (d, r, "label", "literal", v, "http://www.w3.org/2001/XMLSchema#string", "")
            for d, r, v in rows
        ],
        "dataset string, resource string, variable string, o_kind string,"
        " o_value string, o_datatype string, o_lang string",
    )


def _groups(edges):
    cc = connected_components(edges)
    return {
        tuple(sorted(m))
        for m in (
            cc.groupBy("canonical_id").agg({"resource": "collect_set"}).collect()
        )
        for m in [m[1]]
    }


@pytest.mark.parametrize("block", ["cross", "grams"])
def test_use_selected_aspect(spark, block):
    # JaroWinklerMappingProcessorTest.java:54-74
    vals = _values(
        spark,
        [
            ("d1", "entity1", "abcdabcdabcdabcdabcd"),
            ("d1", "entity2", "efghefghefghefghefgh"),
            ("d1", "entity3", "ijklijklijklijklijkl"),
            ("d2", "entity4", "abcdabcdabcdabcdabcd"),
            ("d2", "entity5", "efghefghefghefghabcd"),
            ("d2", "entity6", "mnopmnopmnopmnopmnop"),
        ],
    )
    edges = jw_mapping(vals, ["label"], 0.90, case_sensitive=False, block=block)
    assert _groups(edges) == {("entity1", "entity4"), ("entity2", "entity5")}


def test_handle_zero_and_empty(spark):
    # :104-144 — empty side and below-threshold pairs produce no groups
    vals = _values(spark, [("d1", "entity1", "def"), ("d2", "entity2", "abc")])
    edges = jw_mapping(vals, ["label"], 0.90, block="cross")
    assert edges.count() == 0


def test_commutativ(spark):
    # :147-177 — only the bidirectional best match survives
    rows = [
        ("d1", "entity1", "aaaaaaaaaaa"),
        ("d1", "entity2", "aaaaaaaaaab"),
        ("d2", "entity3", "aaaaaaaaaaa"),
        ("d2", "entity4", "ccccccccccc"),
    ]
    for rs in (rows, [("d2" if d == "d1" else "d1", r, v) for d, r, v in rows]):
        edges = jw_mapping(_values(spark, rs), ["label"], 0.90, block="cross")
        assert _groups(edges) == {("entity1", "entity3")}


def test_case_sensitivity(spark):
    # :180-206
    vals = _values(spark, [("d1", "entity1", "abc"), ("d2", "entity2", "ABC")])
    edges = jw_mapping(vals, ["label"], 0.90, case_sensitive=False, block="cross")
    assert _groups(edges) == {("entity1", "entity2")}
    edges = jw_mapping(vals, ["label"], 0.90, case_sensitive=True, block="cross")
    assert edges.count() == 0


def test_blocking_recall_vs_cross(spark):
    # measure that gram blocking loses no golden-relevant pairs on noisy data
    random.seed(13)
    names = ["".join(random.choices("abcdefgh", k=10)) for _ in range(60)]
    rows = []
    for i, n in enumerate(names):
        rows.append(("d1", f"a{i}", n))
        noisy = list(n)
        pos = random.randrange(len(noisy))
        noisy[pos] = random.choice("abcdefgh")
        rows.append(("d2", f"b{i}", "".join(noisy)))
    vals = _values(spark, rows)
    exact = rows_set(jw_mapping(vals, ["label"], 0.90, block="cross"), "src", "dst")
    blocked = rows_set(jw_mapping(vals, ["label"], 0.90, block="grams"), "src", "dst")
    assert blocked == exact


def test_unicode_linking_matches_reference_kernel(spark):
    """DuckDB's byte-walking JW must not leak into results: pairs touching
    non-ASCII go through the exact codepoint kernel in the bucket scorer,
    whichever the block mode. garçon/garcon scores 0.9222 (codepoints)
    vs 0.8944 (bytes) — at threshold 0.9 only the codepoint semantics
    links it."""
    rows = [
        ("d1", "r1", "label", "literal", "garçon", None, ""),
        ("d2", "r2", "label", "literal", "garcon", None, ""),
        ("d1", "r3", "label", "literal", "münchen", None, ""),
        ("d2", "r4", "label", "literal", "munchen", None, ""),  # jw 0.9048
        ("d1", "r5", "label", "literal", "katarina", None, ""),
        ("d2", "r6", "label", "literal", "katarena", None, ""),  # ascii control
    ]
    schema = (
        "dataset string, resource string, variable string, o_kind string,"
        "o_value string, o_datatype string, o_lang string"
    )
    values = spark.createDataFrame(rows, schema)
    expect = {("r1", "r2"), ("r3", "r4"), ("r5", "r6")}
    got_grams = {
        (r.src, r.dst)
        for r in jw_mapping(values, ["label"], 0.90, case_sensitive=False,
                            block="grams").collect()
    }
    got_cross = {
        (r.src, r.dst)
        for r in jw_mapping(values, ["label"], 0.90, case_sensitive=False,
                            block="cross").collect()
    }
    assert got_grams == expect
    assert got_cross == expect


@pytest.mark.parametrize("block", ["cross", "grams"])
def test_links_below_the_boost_gate_with_reference_semantics(spark, block):
    """At thresholds <= 0.82 DuckDB's JW (boost only when jaro > 0.7) can
    drop pairs the reference's unconditional boost keeps, so the scorer
    sends every unequal pair to the exact kernel. abcdxyzw/abcdqrst has
    jaro 0.5 and a 4-char common prefix: 0.8 under the reference, 0.667
    under DuckDB."""
    assert abs(jaro_winkler_ref("abcdxyzw", "abcdqrst") - 0.8) < 1e-12
    vals = _values(spark, [("d1", "r1", "abcdxyzw"), ("d2", "r2", "abcdqrst")])
    edges = jw_mapping(vals, ["label"], 0.75, block=block)
    assert rows_set(edges, "src", "dst") == {("r1", "r2")}


def test_salted_triangle_scoring_matches_unsalted_and_cross(spark):
    """Every string shares the "ab" bucket, so a small ``bucket_cap`` salts
    it into a triangle of tasks; each pair must be scored exactly once
    whichever salt group its d1 and its d2 string fell into."""
    random.seed(29)
    rows = []
    for i in range(20):
        name = "ab" + "".join(random.choices("cdefghij", k=6))
        noisy = list(name)
        noisy[random.randrange(2, len(noisy))] = random.choice("klmn")
        rows += [("d1", name), ("d2", "".join(noisy))]
    rows += [("d1", "abgarçon"), ("d2", "abgarcon")]
    strings = spark.createDataFrame(rows, "dataset string, value string").select(
        "dataset", F.lit("label").alias("variable"), "value"
    )
    keyed = strings.select("*", F.explode(_block_keys(F.col("value"))).alias("bk"))
    threshold, r_min, cap = 0.90, 0.5, 8
    k = -(-len(rows) // cap)
    salts = {r[0] for r in strings.select(F.pmod(F.xxhash64("value"), F.lit(k))).collect()}
    assert len(salts) >= 3

    def scored(df):
        return {(r.d1, r.v1, r.d2, r.v2, round(r.score, 9)) for r in df.collect()}

    salted = scored(_score_buckets_duckdb(keyed, threshold, r_min, bucket_cap=cap))
    unsalted = scored(_score_buckets_duckdb(keyed, threshold, r_min))
    s1 = strings.select(F.col("dataset").alias("d1"), "variable", F.col("value").alias("v1"))
    s2 = strings.select(F.col("dataset").alias("d2"), "variable", F.col("value").alias("v2"))
    pairs = s1.join(s2, "variable").where(F.col("d1") < F.col("d2")).toPandas()
    pairs["score"] = jaro_winkler_batch(pairs["v1"], pairs["v2"])
    cross = {
        (r.d1, r.v1, r.d2, r.v2, round(r.score, 9))
        for r in pairs[pairs["score"] >= threshold].itertuples()
    }
    assert ("d1", "abgarçon", "d2", "abgarcon") in {r[:4] for r in cross}
    assert len(cross) >= 20
    assert salted == unsalted == cross
