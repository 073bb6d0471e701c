"""PopulationComparisonProcessor (`PopulationComparisonProcessor.java:39-240`)
as a single group-by over correspondence clusters plus a tiny driver-side
decimal epilogue.

Inputs: aspect membership (dataset, resource) per aspect and the canonical
cluster map. Everything the reference streams group-by-group collapses to
one aggregate over ``(canonical_id, dataset) → member count``:

  count(d)              = |members(d)|                  (`:235-239`)
  duplicateCount(d)     = Σ_groups (cnt_d − 1 | cnt_d>0) (`:174-181`)
  deduplicatedCount(d)  = count − duplicates            (`:77`)
  absoluteCoverage(p)   = #groups with both sides present (`:132-139`)
  absoluteCoveredness(d)= #groups with cnt_d>0 and ≥2 datasets (`:141-155`)
  relativeCoverage/Coveredness, marCompletenessThomas08: scale-16 HALF_UP
  decimal arithmetic on the collected (≤|datasets|²) aggregate rows
  (`measure/RelativeCoverage.java`, `measure/Completeness.java:38-85`),
  in ``measure_rows`` — shared with property comparison.

Findings:
  resource_omission — per group × absent dataset × present member
  (`:157-172`), plus every never-corresponding resource against all other
  datasets (`:216-228`); resource_duplicate — ordered member pairs within
  one dataset (`:183-196`).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..model import (
    M_ABS_COVERAGE,
    M_ABS_COVEREDNESS,
    M_COMPLETENESS,
    M_COUNT,
    M_DEDUP_COUNT,
    M_DUP_COUNT,
    M_REL_COVERAGE,
    M_REL_COVEREDNESS,
    MEASURES_SCHEMA,
)

_SCALE = Decimal("1E-16")


def _div16(a: Decimal, b: Decimal) -> Decimal:
    return (a / b).quantize(_SCALE, rounding=ROUND_HALF_UP).normalize()


def measure_rows(
    aspect: str,
    variable: str | None,
    datasets: list[str],
    count: dict[str, int],
    dedup: dict[str, int],
    covered: dict[str, int],
    pair_coverage: dict[tuple[str, str], int],
) -> list[tuple]:
    """The eight measures of one aspect (and variable) as MEASURES_SCHEMA
    rows — the decimal epilogue population and property comparison share
    (the reference's ``measure/`` classes, BigDecimalMeasure scale 16,
    HALF_UP).

    ``datasets`` sorted; ``count``/``dedup``/``covered`` per dataset
    (duplicateCount = count − dedup); ``pair_coverage`` per sorted pair
    (d1 < d2). Relative measures are skipped where the divisor's
    deduplicated count is 0, completeness where the total overlap is 0.
    """
    rows = []

    def add(measure, dataset, compared_to, value):
        rows.append(
            (measure, aspect, variable, dataset, sorted(compared_to), Decimal(value))
        )

    for d in datasets:
        others = [x for x in datasets if x != d]
        add(M_COUNT, d, [], count[d])
        add(M_DEDUP_COUNT, d, [], dedup[d])
        add(M_DUP_COUNT, d, [], count[d] - dedup[d])
        add(M_ABS_COVEREDNESS, d, others, covered[d])
        if dedup[d] != 0:
            add(M_REL_COVEREDNESS, d, others, _div16(Decimal(covered[d]), Decimal(dedup[d])))
    for (d1, d2), n in pair_coverage.items():
        add(M_ABS_COVERAGE, d1, [d2], n)
        add(M_ABS_COVERAGE, d2, [d1], n)
        if dedup[d2] != 0:
            add(M_REL_COVERAGE, d1, [d2], _div16(Decimal(n), Decimal(dedup[d2])))
        if dedup[d1] != 0:
            add(M_REL_COVERAGE, d2, [d1], _div16(Decimal(n), Decimal(dedup[d1])))

    # mark-and-recapture completeness (Thomas 2008, `measure/Completeness.java`)
    total_overlap = sum(pair_coverage.values())
    if total_overlap != 0:
        est = sum(Decimal(dedup[d1]) * Decimal(dedup[d2]) for d1, d2 in pair_coverage)
        est = (est / Decimal(total_overlap)).quantize(_SCALE, rounding=ROUND_HALF_UP)
        for d in datasets:
            others = [x for x in datasets if x != d]
            add(M_COMPLETENESS, d, others, _div16(Decimal(dedup[d]), est))
    return rows


def population_comparison(
    spark,
    members: DataFrame,
    canonical: DataFrame,
    aspect: str,
    datasets: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (measures, findings) DataFrames (MEASURES_SCHEMA /
    FINDINGS_SCHEMA shapes).

    ``members``: (dataset, resource) distinct aspect membership.
    ``canonical``: (resource, canonical_id); resources absent from the map
    are "never corresponding" (`unprocessedResourcesByDataset`).
    """
    members = members.select("dataset", "resource").distinct()
    # one pass over members yields both the dataset list and the per-
    # dataset counts (was two separate collects)
    counts = {
        r["dataset"]: r["count"]
        for r in members.groupBy("dataset").count().collect()
    }
    if datasets is None:
        datasets = list(counts)
    datasets = sorted(datasets)
    counts = {d: counts.get(d, 0) for d in datasets}
    pairs = list(combinations(datasets, 2))

    # m feeds grouped/loners/gcnt and the findings branch — materialize it
    # once instead of re-deriving the join per consumer
    m = members.join(canonical, "resource", "left").localCheckpoint(eager=False)
    grouped = m.where(F.col("canonical_id").isNotNull())
    loners = m.where(F.col("canonical_id").isNull()).select("dataset", "resource")

    # pivot: per group, member count per dataset
    gcnt = (
        grouped.groupBy("canonical_id")
        .pivot("dataset", datasets)
        .agg(F.count("resource"))
        .na.fill(0)
    ).localCheckpoint(eager=True)

    present = [F.col(f"`{d}`") > 0 for d in datasets]
    n_present = sum(F.when(p, 1).otherwise(0) for p in present)
    gcnt2 = gcnt.withColumn("n_present", n_present)

    agg_exprs = []
    for d in datasets:
        agg_exprs.append(
            F.sum(F.when(F.col(f"`{d}`") > 0, F.col(f"`{d}`") - 1).otherwise(0)).alias(
                f"dup__{d}"
            )
        )
        agg_exprs.append(
            F.sum(
                F.when((F.col(f"`{d}`") > 0) & (F.col("n_present") >= 2), 1).otherwise(0)
            ).alias(f"cov__{d}")
        )
    for d1, d2 in pairs:
        agg_exprs.append(
            F.sum(
                F.when((F.col(f"`{d1}`") > 0) & (F.col(f"`{d2}`") > 0), 1).otherwise(0)
            ).alias(f"pair__{d1}__{d2}")
        )
    agg_row = gcnt2.agg(*agg_exprs).collect()[0].asDict() if agg_exprs else {}

    dup = {d: int(agg_row.get(f"dup__{d}", 0) or 0) for d in datasets}
    covness = {d: int(agg_row.get(f"cov__{d}", 0) or 0) for d in datasets}
    abscov = {p: int(agg_row.get(f"pair__{p[0]}__{p[1]}", 0) or 0) for p in pairs}
    dedup = {d: counts[d] - dup[d] for d in datasets}

    measures = spark.createDataFrame(
        measure_rows(aspect, None, datasets, counts, dedup, covness, abscov),
        MEASURES_SCHEMA,
    )

    # ---- findings -------------------------------------------------------
    # members per group per dataset (long)
    gm = grouped.select("canonical_id", "dataset", "resource")

    # omissions within groups: for each group and dataset absent from it,
    # one omission per present member of any other dataset
    ds_df = spark.createDataFrame([(d,) for d in datasets], "dataset string")
    group_ds = gcnt.select(
        "canonical_id",
        *[F.col(f"`{d}`").alias(f"cnt_{i}") for i, d in enumerate(datasets)],
    )
    absent = group_ds.select(
        "canonical_id",
        F.explode(
            F.array(
                *[
                    F.when(F.col(f"cnt_{i}") == 0, F.lit(d))
                    for i, d in enumerate(datasets)
                ]
            )
        ).alias("absent_dataset"),
    ).where(F.col("absent_dataset").isNotNull())
    omissions_grouped = absent.join(gm, "canonical_id").select(
        F.col("absent_dataset").alias("affected_dataset"),
        F.col("dataset").alias("compared_to_dataset"),
        F.col("resource").alias("compared_to_resource"),
    )

    # omissions of never-corresponding resources vs every other dataset
    omissions_loners = (
        loners.join(ds_df.withColumnRenamed("dataset", "affected_dataset"), how="cross")
        .where(F.col("affected_dataset") != F.col("dataset"))
        .select(
            "affected_dataset",
            F.col("dataset").alias("compared_to_dataset"),
            F.col("resource").alias("compared_to_resource"),
        )
    )

    omissions = omissions_grouped.unionByName(omissions_loners).select(
        F.lit("resource_omission").alias("kind"),
        F.lit(aspect).alias("aspect"),
        F.lit(None).cast("string").alias("variable"),
        "affected_dataset",
        F.lit(None).cast("string").alias("affected_resource"),
        F.lit(None).cast("string").alias("affected_value"),
        "compared_to_dataset",
        "compared_to_resource",
        F.lit(None).cast("string").alias("compared_to_value"),
        F.lit(None).cast("string").alias("comment"),
    )

    # duplicates: ordered pairs within (group, dataset)
    gm2 = gm.withColumnRenamed("resource", "other")
    duplicates = (
        gm.join(gm2, ["canonical_id", "dataset"])
        .where(F.col("resource") != F.col("other"))
        .select(
            F.lit("resource_duplicate").alias("kind"),
            F.lit(aspect).alias("aspect"),
            F.lit(None).cast("string").alias("variable"),
            F.col("dataset").alias("affected_dataset"),
            F.col("resource").alias("affected_resource"),
            F.lit(None).cast("string").alias("affected_value"),
            F.lit(None).cast("string").alias("compared_to_dataset"),
            F.col("other").alias("compared_to_resource"),
            F.lit(None).cast("string").alias("compared_to_value"),
            F.lit(None).cast("string").alias("comment"),
        )
    )

    findings = omissions.unionByName(duplicates)
    return measures, findings
