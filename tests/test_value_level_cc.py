"""Equivalence of the two canonicalization paths: value-level CC
(`canonical_from_value_links`, the scale path) must produce exactly the
same (resource, canonical_id) rows as resource-level CC over the pairwise
resource edges (`jw_mapping` + `connected_components`), for the same
values input. Randomized over seeds; also exercises multi-variable
bridging."""

import random

import pytest
from pyspark.sql import functions as F

from abecto_spark.operators.closure import (
    canonical_from_value_links,
    connected_components,
)
from abecto_spark.operators.jw_mapping import jw_mapping

SCHEMA = (
    "dataset string, resource string, variable string, o_kind string,"
    "o_value string, o_datatype string, o_lang string"
)


def _random_values(seed, n_entities=30, n_datasets=3, n_variables=2):
    rng = random.Random(seed)
    stems = [f"entity{chr(97 + i)}{i:03d}name" for i in range(n_entities)]
    rows = []
    rid = 0
    for d in range(n_datasets):
        for i, stem in enumerate(stems):
            if rng.random() < 0.3:
                continue  # entity absent from this dataset
            rid += 1
            resource = f"r{d}_{rid:04d}"
            for v in range(n_variables):
                val = stem if v == 0 else f"alt{stem}"
                if rng.random() < 0.4:  # dataset-specific typo
                    pos = rng.randrange(2, len(val) - 2)
                    val = val[:pos] + rng.choice("xyz") + val[pos + 1:]
                rows.append(
                    (f"d{d}", resource, f"var{v}", "literal", val, None, "")
                )
            # some resources carry a second value for var0 (multi-valued)
            if rng.random() < 0.2:
                rows.append(
                    (f"d{d}", resource, "var0", "literal", stems[(i + 1) % n_entities], None, "")
                )
    return rows


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_value_level_cc_equals_resource_level(spark, seed):
    values = spark.createDataFrame(_random_values(seed), SCHEMA)
    variables = ["var0", "var1"]

    edges = jw_mapping(values, variables, 0.90, case_sensitive=False,
                       block="grams")
    canon_res = connected_components(edges)

    links = jw_mapping(values, variables, 0.90, case_sensitive=False,
                       block="grams", return_value_links=True)
    canon_val = canonical_from_value_links(links, values, variables, False)

    a = sorted((r.resource, r.canonical_id) for r in canon_res.collect())
    b = sorted((r.resource, r.canonical_id) for r in canon_val.collect())
    assert a == b, f"seed={seed}: resource-level {a} != value-level {b}"

    # canonical id is the cluster minimum in both paths
    for rows in (canon_res, canon_val):
        bad = rows.groupBy("canonical_id").agg(F.min("resource").alias("lo")).where(
            F.col("lo") != F.col("canonical_id")
        )
        assert bad.count() == 0
