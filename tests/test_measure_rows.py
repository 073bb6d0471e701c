"""The shared S5 measure epilogue (``population.measure_rows``) without
Spark: which rows it emits and their scale-16 HALF_UP decimals."""

from __future__ import annotations

from decimal import Decimal

import pytest

from abecto_spark.operators.population import measure_rows

CASES = {
    # c has nothing deduplicated: every relative measure divided by it
    # is skipped, the ones dividing by a or b are kept
    "zero_divisor": (
        ["a", "b", "c"],
        {"a": 2, "b": 2, "c": 0},
        {"a": 2, "b": 2, "c": 0},
        {"a": 1, "b": 1, "c": 0},
        {("a", "b"): 1, ("a", "c"): 0, ("b", "c"): 0},
        {
            ("count", "a", ()): "2", ("count", "b", ()): "2", ("count", "c", ()): "0",
            ("deduplicatedCount", "a", ()): "2", ("deduplicatedCount", "b", ()): "2",
            ("deduplicatedCount", "c", ()): "0",
            ("duplicateCount", "a", ()): "0", ("duplicateCount", "b", ()): "0",
            ("duplicateCount", "c", ()): "0",
            ("absoluteCoveredness", "a", ("b", "c")): "1",
            ("absoluteCoveredness", "b", ("a", "c")): "1",
            ("absoluteCoveredness", "c", ("a", "b")): "0",
            ("relativeCoveredness", "a", ("b", "c")): "0.5",
            ("relativeCoveredness", "b", ("a", "c")): "0.5",
            ("absoluteCoverage", "a", ("b",)): "1", ("absoluteCoverage", "b", ("a",)): "1",
            ("absoluteCoverage", "a", ("c",)): "0", ("absoluteCoverage", "c", ("a",)): "0",
            ("absoluteCoverage", "b", ("c",)): "0", ("absoluteCoverage", "c", ("b",)): "0",
            ("relativeCoverage", "a", ("b",)): "0.5", ("relativeCoverage", "b", ("a",)): "0.5",
            ("relativeCoverage", "c", ("a",)): "0", ("relativeCoverage", "c", ("b",)): "0",
            ("marCompletenessThomas08", "a", ("b", "c")): "0.5",
            ("marCompletenessThomas08", "b", ("a", "c")): "0.5",
            ("marCompletenessThomas08", "c", ("a", "b")): "0",
        },
    ),
    # no pair overlaps: no completeness estimate exists
    "zero_overlap": (
        ["a", "b"],
        {"a": 1, "b": 3},
        {"a": 1, "b": 2},
        {"a": 0, "b": 0},
        {("a", "b"): 0},
        {
            ("count", "a", ()): "1", ("count", "b", ()): "3",
            ("deduplicatedCount", "a", ()): "1", ("deduplicatedCount", "b", ()): "2",
            ("duplicateCount", "a", ()): "0", ("duplicateCount", "b", ()): "1",
            ("absoluteCoveredness", "a", ("b",)): "0",
            ("absoluteCoveredness", "b", ("a",)): "0",
            ("relativeCoveredness", "a", ("b",)): "0",
            ("relativeCoveredness", "b", ("a",)): "0",
            ("absoluteCoverage", "a", ("b",)): "0", ("absoluteCoverage", "b", ("a",)): "0",
            ("relativeCoverage", "a", ("b",)): "0", ("relativeCoverage", "b", ("a",)): "0",
        },
    ),
    # test_population.py's aspect2: d2 holds one duplicate (s221 ~ s2211)
    "population_aspect2": (
        ["d1", "d2", "d3"],
        {"d1": 4, "d2": 3, "d3": 1},
        {"d1": 4, "d2": 2, "d3": 1},
        {"d1": 2, "d2": 2, "d3": 0},
        {("d1", "d2"): 2, ("d1", "d3"): 0, ("d2", "d3"): 0},
        {
            ("count", "d1", ()): "4", ("count", "d2", ()): "3", ("count", "d3", ()): "1",
            ("deduplicatedCount", "d1", ()): "4", ("deduplicatedCount", "d2", ()): "2",
            ("deduplicatedCount", "d3", ()): "1",
            ("duplicateCount", "d1", ()): "0", ("duplicateCount", "d2", ()): "1",
            ("duplicateCount", "d3", ()): "0",
            ("absoluteCoveredness", "d1", ("d2", "d3")): "2",
            ("absoluteCoveredness", "d2", ("d1", "d3")): "2",
            ("absoluteCoveredness", "d3", ("d1", "d2")): "0",
            ("relativeCoveredness", "d1", ("d2", "d3")): "0.5",
            ("relativeCoveredness", "d2", ("d1", "d3")): "1",
            ("relativeCoveredness", "d3", ("d1", "d2")): "0",
            ("absoluteCoverage", "d1", ("d2",)): "2", ("absoluteCoverage", "d2", ("d1",)): "2",
            ("absoluteCoverage", "d1", ("d3",)): "0", ("absoluteCoverage", "d3", ("d1",)): "0",
            ("absoluteCoverage", "d2", ("d3",)): "0", ("absoluteCoverage", "d3", ("d2",)): "0",
            ("relativeCoverage", "d1", ("d2",)): "1", ("relativeCoverage", "d2", ("d1",)): "0.5",
            ("relativeCoverage", "d1", ("d3",)): "0", ("relativeCoverage", "d3", ("d1",)): "0",
            ("relativeCoverage", "d2", ("d3",)): "0", ("relativeCoverage", "d3", ("d2",)): "0",
            # Thomas 2008 estimate (4·2 + 4·1 + 2·1) / 2 = 7
            ("marCompletenessThomas08", "d1", ("d2", "d3")): "0.5714285714285714",
            ("marCompletenessThomas08", "d2", ("d1", "d3")): "0.2857142857142857",
            ("marCompletenessThomas08", "d3", ("d1", "d2")): "0.1428571428571429",
        },
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_measure_rows(case):
    datasets, count, dedup, covered, pairs, expected = CASES[case]
    rows = measure_rows("asp", "var", datasets, count, dedup, covered, pairs)
    assert all(r[1] == "asp" and r[2] == "var" for r in rows)
    got = {(m, d, tuple(cmp)): v for m, _a, _v, d, cmp, v in rows}
    assert len(got) == len(rows), "a measure row is emitted twice"
    # str() pins the digits: each ratio is quantized to 16 places and
    # normalized, exactly what the reference's scale-16 measures print
    assert {k: str(v) for k, v in got.items()} == expected
