"""PropertyComparisonProcessor (`PropertyComparisonProcessor.java:38-611`)
— the flagship comparison stage — as 4–5 DataFrame join/agg stages plus a
driver-side decimal epilogue.

Semantics mapping (SURVEY.md §2.1):
  * values are term-deduped per resource (the reference's
    ``Set<RDFNode>``), then classed by the C-EQ key (functions/ceq.py)
    which substitutes the canonical cluster id for IRI values
    (`:287-300`);
  * language-filtered string literals are excluded entirely
    (`isExcludedValue`, `:528-538`);
  * per correspondence group / variable / dataset: nonDistinct count =
    #(resource, term) rows (`:302-316`), distinct count = #eq classes
    (`:318-329`);
  * absoluteCoverage(pair) = Σ_groups |classes(d1) ∩ classes(d2)| — the
    greedy 1:1 matching (`:331-369`) collapses to set intersection because
    each side is already deduped and C-EQ is transitive by construction;
  * absoluteCoveredness(d) = #classes of d shared with ≥1 other dataset;
  * never-corresponding resources contribute to counts only as singleton
    "groups" (`:465-476`);
  * deviations / value omissions per resource pair within groups,
    including same-dataset pairs (`:371-433`), suppressed when the
    *compared* value is annotated WrongValue (`:459-463`). The reference
    emits same-dataset findings twice (its (a,b)/(b,a) double loop creates
    two annotation instances); this engine emits each directed finding
    once.
  * ratio + mark-recapture measures with scale-16 HALF_UP decimals
    (``population.measure_rows``, one call per variable).
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ceq import term_key, value_eq_key
from ..functions.lang import lang_excluded
from ..model import MEASURES_SCHEMA
from .population import measure_rows
from .salting import salted_triangle


def property_comparison(
    spark,
    values: DataFrame,
    members: DataFrame,
    canonical: DataFrame,
    aspect: str,
    variables: list[str],
    coverage: dict[str, list[str]] | None = None,
    wrong_values: DataFrame | None = None,
    language_filter_patterns: tuple[str, ...] = ("", "*"),
    allow_time_skip: bool = False,
    allow_lang_tag_skip: bool = False,
    datasets: list[str] | None = None,
    pair_salt_cap: int = 2000,
) -> tuple[DataFrame, DataFrame]:
    """Returns (measures, findings).

    ``values``: (dataset, resource, variable, o_kind, o_value, o_datatype,
    o_lang) aspect extraction output. ``members``: (dataset, resource)
    aspect membership (resources may have no values but still participate
    in findings). ``coverage``: variable -> datasets covering it (default:
    every dataset covers every variable).
    """
    members = members.select("dataset", "resource").distinct()
    # canonical feeds both the membership join and the IRI-value
    # substitution join — materialize once (it is the small side)
    canonical = canonical.localCheckpoint(eager=False)
    if datasets is None:
        datasets = sorted(r[0] for r in members.select("dataset").distinct().collect())
    coverage = coverage or {v: list(datasets) for v in variables}

    v = values.where(F.col("variable").isin(variables))
    # language filter: non-matching string literals are fully excluded
    v = v.where(~lang_excluded(F.col("o_kind"), F.col("o_datatype"), F.col("o_lang"),
                               language_filter_patterns))

    # term-level dedup per resource (Set<RDFNode> semantics)
    v = v.withColumn(
        "tkey", term_key(F.col("o_kind"), F.col("o_value"), F.col("o_datatype"), F.col("o_lang"))
    ).dropDuplicates(["dataset", "resource", "variable", "tkey"])

    # membership with cluster ids; never-corresponding resources become
    # per-dataset singleton groups (counts only, no findings)
    mem = members.join(canonical, "resource", "left")
    mem = mem.withColumn("grouped", F.col("canonical_id").isNotNull()).withColumn(
        "group_id",
        F.coalesce(
            F.col("canonical_id"),
            F.concat(F.lit("solo:"), F.col("dataset"), F.lit(":"), F.col("resource")),
        ),
    ).select("dataset", "resource", "group_id", "grouped")
    mem = mem.localCheckpoint(eager=True)

    # C-EQ class key (canonical substitution for IRI values)
    val_canon = canonical.select(
        F.col("resource").alias("o_value"), F.col("canonical_id").alias("val_cluster")
    )
    rv = (
        v.join(val_canon, "o_value", "left")
        .withColumn(
            "eq_key",
            value_eq_key(
                F.col("o_kind"),
                F.col("o_value"),
                F.col("o_datatype"),
                F.col("o_lang"),
                canonical_id=F.col("val_cluster"),
                allow_lang_tag_skip=allow_lang_tag_skip,
                allow_time_skip=allow_time_skip,
            ),
        )
        .join(mem, ["dataset", "resource"])
        .select(
            "dataset", "resource", "variable", "group_id", "grouped",
            "eq_key", "o_kind", "o_value", "o_datatype", "o_lang",
        )
    ).localCheckpoint(eager=True)

    # ---------------- measures ----------------
    # one pre-aggregate feeds every count measure: nonDistinct = Σn and
    # distinct = #classes fall out of `g` in a single shuffle over rv
    # (instead of a separate count pass + a distinct pass), and
    # coverage/coveredness both come from the per-class dataset sets
    # (instead of a dk⋈dk self-join — the per-class dataset fan-out is
    # bounded by |datasets|, so exploding sorted pairs is strictly
    # cheaper than shuffling the class table twice)
    g = (
        rv.groupBy("group_id", "variable", "dataset", "eq_key")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    ndd = (
        g.groupBy("variable", "dataset")
        .agg(F.sum("n").alias("nd"), F.count("*").alias("dd"))
        .collect()
    )
    nd_rows = {(r["variable"], r["dataset"]): r["nd"] for r in ndd}
    dd_rows = {(r["variable"], r["dataset"]): r["dd"] for r in ndd}
    # per-class dataset sets: classes shared by a pair (coverage) and
    # classes of d shared with >=1 other dataset (coveredness)
    kd = (
        g.groupBy("group_id", "variable", "eq_key")
        .agg(F.array_sort(F.collect_set("dataset")).alias("ds"))
        .localCheckpoint(eager=True)
    )
    pair_structs = F.expr(
        "flatten(transform(ds, (x, i) ->"
        " transform(slice(ds, i + 2, size(ds)), y -> struct(x AS d1, y AS d2))))"
    )
    pair_cov = (
        kd.select("variable", F.explode(pair_structs).alias("p"))
        .groupBy("variable", F.col("p.d1").alias("dataset"), F.col("p.d2").alias("d2"))
        .count()
        .collect()
    )
    cov_rows = {(r["variable"], r["dataset"], r["d2"]): r["count"] for r in pair_cov}
    covness_rows = {
        (r["variable"], r["dataset"]): r["count"]
        for r in kd.where(F.size("ds") >= 2)
        .select("variable", F.explode("ds").alias("dataset"))
        .groupBy("variable", "dataset")
        .count()
        .collect()
    }

    rows = []
    for var in variables:
        cov_ds = sorted(coverage.get(var, []))
        rows += measure_rows(
            aspect, var, cov_ds,
            {d: int(nd_rows.get((var, d), 0)) for d in cov_ds},
            {d: int(dd_rows.get((var, d), 0)) for d in cov_ds},
            {d: int(covness_rows.get((var, d), 0)) for d in cov_ds},
            {p: int(cov_rows.get((var, *p), 0)) for p in combinations(cov_ds, 2)},
        )
    measures = spark.createDataFrame(rows, MEASURES_SCHEMA)

    # ---------------- findings ----------------
    findings = _deviations_and_omissions(
        spark, rv, mem, aspect, variables, coverage, datasets, wrong_values,
        pair_cap=pair_salt_cap,
    )
    return measures, findings


def _group_pairs(gmem: DataFrame, pair_cap: int) -> DataFrame:
    """All within-group resource pairs — cross-dataset (da<db) or
    same-dataset (ra<rb) — via a *salted triangle self-join* so one
    pathological mega-group (hub entity, bad linking round) cannot create
    a |group|²-row straggler task (the round-1 scale flag on the plain
    ``m1.join(m2, "group_id")``).

    Only groups larger than ``pair_cap`` take the salted path — the mass
    of small groups keeps the plain self-join (no replication, no extra
    join columns), paying just one aggregate + a broadcast anti-join to
    split the two populations. Oversized-group members get salt
    s = hash(resource) mod k with k = ceil(n / pair_cap) and are
    replicated to pair-tasks (i, s) for i ≤ s and (s, j) for j > s
    (``salting.salted_triangle``, shared with the JW scorer). Joining on
    (group, ti, tj) and keeping same-salt pairs only on the diagonal
    yields every unordered pair exactly once per role order, with
    per-task join work bounded by ~(2·pair_cap)² instead of n²."""
    gmem = gmem.select("group_id", "dataset", "resource").localCheckpoint(eager=True)
    big_ids = (
        gmem.groupBy("group_id")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") > pair_cap)
    )
    # mega-groups are by definition few (they are the pathology); the id
    # list broadcast keeps the small-group path a single plain join
    big_ids = F.broadcast(big_ids.localCheckpoint(eager=True))

    small = gmem.join(big_ids, "group_id", "left_anti")
    s1 = small.select(
        "group_id", F.col("dataset").alias("da"), F.col("resource").alias("ra")
    )
    s2 = small.select(
        "group_id", F.col("dataset").alias("db"), F.col("resource").alias("rb")
    )
    small_pairs = s1.join(s2, "group_id").where(
        (F.col("da") < F.col("db"))
        | ((F.col("da") == F.col("db")) & (F.col("ra") < F.col("rb")))
    )

    ex = salted_triangle(
        gmem.join(big_ids, "group_id"),  # inner: big-group members + _n
        pair_cap, "resource", ["group_id", "dataset", "resource"],
    )
    a = ex.select(
        "group_id", "_ti", "_tj",
        F.col("dataset").alias("da"), F.col("resource").alias("ra"),
        F.col("_s").alias("_sa"),
    )
    b = ex.select(
        "group_id", "_ti", "_tj",
        F.col("dataset").alias("db"), F.col("resource").alias("rb"),
        F.col("_s").alias("_sb"),
    )
    big_pairs = (
        a.join(b, ["group_id", "_ti", "_tj"])
        # same-salt pairs live on the diagonal task only (uniqueness)
        .where((F.col("_ti") == F.col("_tj")) | (F.col("_sa") != F.col("_sb")))
        .where(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("ra") < F.col("rb")))
        )
        .select("group_id", "da", "ra", "db", "rb")
    )
    return small_pairs.select("group_id", "da", "ra", "db", "rb").unionByName(
        big_pairs
    )


def _deviations_and_omissions(
    spark, rv, mem, aspect, variables, coverage, datasets, wrong_values,
    pair_cap: int = 2000,
):
    gmem = mem.where(F.col("grouped"))
    # ONE row per (group, variable, dataset, resource) holding the sorted
    # (eq_key, value) entries, deduped to one representative term per eq
    # class (the reference keeps a single representative RDFNode per
    # class, `:267-278`; sorted array → the min-value representative, for
    # determinism where the reference is HashMap-order dependent). The
    # whole uncovered-value computation then runs as array expressions on
    # the pair join — the previous formulation paid 5 extra shuffles
    # (value-level anti-joins both ways, two pair distincts, omission
    # anti-joins). Per-resource value sets are bounded (values of one
    # aspect variable), so the O(|a|·|b|) membership scans are task-local.
    grv = (
        rv.where(F.col("grouped"))
        .groupBy("group_id", "variable", "dataset", "resource")
        .agg(F.array_sort(F.collect_list(F.struct("eq_key", "o_value"))).alias("_kv"))
        .withColumn(
            "kv",
            # null-safe run dedup: <=> keeps the first entry of each key
            # run even across null keys (groupBy-on-eq_key equivalence)
            F.expr(
                "filter(_kv, (x, i) -> i = 0"
                " OR NOT (_kv[i - 1].eq_key <=> x.eq_key))"
            ),
        )
        .drop("_kv")
    )

    # resource pairs within a group: cross-dataset (d1<d2) or same-dataset
    # (r1 != r2); the latter yields the reference's duplicate-resource
    # findings (`:375-379`)
    pairs = _group_pairs(gmem, pair_cap)

    # per-variable coverage gate for the pair
    cov_rows = [(v, d) for v in variables for d in coverage.get(v, datasets)]
    cov_df = F.broadcast(
        spark.createDataFrame(cov_rows, "variable string, dataset string")
    )
    var_df = F.broadcast(spark.createDataFrame([(v,) for v in variables], "variable string"))
    pairs_v = (
        pairs.join(var_df, how="cross")
        .join(cov_df.withColumnRenamed("dataset", "da"), ["variable", "da"], "left_semi")
        .join(cov_df.withColumnRenamed("dataset", "db"), ["variable", "db"], "left_semi")
    )

    sets_a = grv.select(
        "group_id", "variable",
        F.col("dataset").alias("da"), F.col("resource").alias("ra"),
        F.col("kv").alias("_kv_a"),
    )
    sets_b = grv.select(
        "group_id", "variable",
        F.col("dataset").alias("db"), F.col("resource").alias("rb"),
        F.col("kv").alias("_kv_b"),
    )
    empty_kv = F.expr("array()").cast("array<struct<eq_key:string,o_value:string>>")
    paired = (
        pairs_v.join(sets_a, ["group_id", "variable", "da", "ra"], "left")
        .join(sets_b, ["group_id", "variable", "db", "rb"], "left")
        .withColumn("_kv_a", F.coalesce("_kv_a", empty_kv))
        .withColumn("_kv_b", F.coalesce("_kv_b", empty_kv))
        # non-null key lists: a null eq_key never matches anything (the
        # anti-join semantics this replaces), so null-keyed values are
        # always uncovered and nulls never make array_contains tri-valued
        .withColumn(
            "_keys_a",
            F.expr("filter(transform(_kv_a, x -> x.eq_key), k -> k IS NOT NULL)"),
        )
        .withColumn(
            "_keys_b",
            F.expr("filter(transform(_kv_b, x -> x.eq_key), k -> k IS NOT NULL)"),
        )
        # uncovered values of ra vs rb (and vice versa)
        .withColumn(
            "unc_a",
            F.expr(
                "filter(_kv_a, x -> x.eq_key IS NULL"
                " OR NOT array_contains(_keys_b, x.eq_key))"
            ),
        )
        .withColumn(
            "unc_b",
            F.expr(
                "filter(_kv_b, x -> x.eq_key IS NULL"
                " OR NOT array_contains(_keys_a, x.eq_key))"
            ),
        )
        .where((F.size("unc_a") > 0) | (F.size("unc_b") > 0))
        .select("group_id", "variable", "da", "ra", "db", "rb", "unc_a", "unc_b")
        # findings pairs are the output magnitude; checkpoint LAZILY so
        # the omission/deviation branches share one materialization but a
        # caller that only consumes measures never pays for findings
        .localCheckpoint(eager=False)
    )

    # omissions: exactly one side uncovered
    om_b = (
        paired.where(F.size("unc_a") == 0)
        .select(
            "variable", "da", "ra", "db", "rb",
            F.explode("unc_b").alias("_x"),
        )
        .select(
            "variable", "da", "ra", "db", "rb",
            F.col("_x.o_value").alias("val_b"),
        )
    )  # a misses b's values
    om_a = (
        paired.where(F.size("unc_b") == 0)
        .select(
            "variable", "da", "ra", "db", "rb",
            F.explode("unc_a").alias("_x"),
        )
        .select(
            "variable", "da", "ra", "db", "rb",
            F.col("_x.o_value").alias("val_a"),
        )
    )  # b misses a's values
    # deviations: both sides uncovered -> cross product
    dev = (
        paired.where((F.size("unc_a") > 0) & (F.size("unc_b") > 0))
        .select(
            "variable", "da", "ra", "db", "rb",
            F.explode(
                F.expr(
                    "flatten(transform(unc_a, a ->"
                    " transform(unc_b, b ->"
                    " struct(a.o_value AS val_a, b.o_value AS val_b))))"
                )
            ).alias("_d"),
        )
        .select(
            "variable", "da", "ra", "db", "rb",
            F.col("_d.val_a").alias("val_a"), F.col("_d.val_b").alias("val_b"),
        )
    )

    def om_out(df, aff_d, aff_r, cmp_d, cmp_r, cmp_v):
        return df.select(
            F.lit("value_omission").alias("kind"),
            F.lit(aspect).alias("aspect"),
            F.col("variable"),
            F.col(aff_d).alias("affected_dataset"),
            F.col(aff_r).alias("affected_resource"),
            F.lit(None).cast("string").alias("affected_value"),
            F.col(cmp_d).alias("compared_to_dataset"),
            F.col(cmp_r).alias("compared_to_resource"),
            F.col(cmp_v).alias("compared_to_value"),
            F.lit(None).cast("string").alias("comment"),
        )

    def dev_out(df, aff_d, aff_r, aff_v, cmp_d, cmp_r, cmp_v):
        return df.select(
            F.lit("deviation").alias("kind"),
            F.lit(aspect).alias("aspect"),
            F.col("variable"),
            F.col(aff_d).alias("affected_dataset"),
            F.col(aff_r).alias("affected_resource"),
            F.col(aff_v).alias("affected_value"),
            F.col(cmp_d).alias("compared_to_dataset"),
            F.col(cmp_r).alias("compared_to_resource"),
            F.col(cmp_v).alias("compared_to_value"),
            F.lit(None).cast("string").alias("comment"),
        )

    out = (
        om_out(om_b, "da", "ra", "db", "rb", "val_b")
        .unionByName(om_out(om_a, "db", "rb", "da", "ra", "val_a"))
        .unionByName(dev_out(dev, "da", "ra", "val_a", "db", "rb", "val_b"))
        .unionByName(dev_out(dev, "db", "rb", "val_b", "da", "ra", "val_a"))
    )

    # wrong-value suppression: drop findings whose *compared* value is a
    # known wrong value of the compared resource (`:459-463`)
    if wrong_values is not None:
        wv = wrong_values.select(
            F.col("dataset").alias("compared_to_dataset"),
            F.col("resource").alias("compared_to_resource"),
            F.col("variable"),
            F.col("o_value").alias("compared_to_value"),
        ).distinct()
        out = out.join(
            F.broadcast(wv),
            ["compared_to_dataset", "compared_to_resource", "variable", "compared_to_value"],
            "left_anti",
        )
    return out
