"""The KG-construction pipeline over interleaved docs (SURVEY.md §7.1,
north rule): S1 extract → S2 link (Jaro-Winkler) → S3 canonicalize (CC) →
S4 materialize triples → S5 measures, each stage checkpointed to the
snapshot store with per-partition lineage and counter metrics, resumable
from any prefix of completed stages.

This is the Spark replacement of ABECTO's Step DAG executor
(`Abecto.java:283-325`): the driver sequences stages; Spark parallelizes
within each stage; provenance = the manifest chain.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field
from functools import cache, cached_property
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import XSD_STRING
from ..operators.closure import canonical_from_value_links
from ..operators.extract import DEFAULT_RULES, MentionRule, extract_mentions, mentions_as_values
from ..operators.jw_mapping import jw_mapping
from ..operators.population import population_comparison
from ..sources.checkpoint import SnapshotStore

STAGES = (
    "s1_mentions", "s1b_media", "s2_edges", "s3_canonical",
    "s4_triples", "s5_measures",
)


@dataclass
class PipelineConfig:
    variables: tuple[str, ...] = ("label",)
    threshold: float = 0.90
    case_sensitive: bool = False
    block: str = "grams"
    rules: tuple[MentionRule, ...] = DEFAULT_RULES
    aspect: str = "entity"
    media_features: bool = False
    media_feature_dim: int = 16
    # per-variable property measures/findings in S5 (PropertyComparison);
    # population measures always run. Off by default: the bench headline
    # times the triple-emission chain (BENCH/BASELINE.md config).
    property_measures: bool = False

    def token(self) -> str:
        payload = json.dumps(
            {
                "media": [self.media_features, self.media_feature_dim],
                "property_measures": self.property_measures,
                "variables": list(self.variables),
                "threshold": self.threshold,
                "case_sensitive": self.case_sensitive,
                "block": self.block,
                "rules": [(r.variable, r.pattern, r.group) for r in self.rules],
            },
            sort_keys=True,
        )
        return hashlib.sha256(payload.encode()).hexdigest()[:16]


@dataclass
class PipelineResult:
    mentions: DataFrame
    edges: DataFrame
    canonical: DataFrame
    triples: DataFrame
    measures: DataFrame
    # S5 findings have no snapshot: a resumed run builds them only when
    # ``findings`` is first read
    build_findings: Callable[[], DataFrame]
    metrics: dict = field(default_factory=dict)
    media_features: DataFrame | None = None

    @cached_property
    def findings(self) -> DataFrame:
        return self.build_findings()


class DocsPipeline:
    def __init__(self, spark: SparkSession, store: SnapshotStore, config: PipelineConfig | None = None):
        self.spark = spark
        self.store = store
        self.config = config or PipelineConfig()

    def run(self, docs: DataFrame, resume: bool = True) -> PipelineResult:
        cfg = self.config
        tok = cfg.token()
        metrics: dict = {}

        def stage(name: str, build: Callable[[], DataFrame]) -> DataFrame:
            df, metrics[name] = self.store.stage(name, tok, build, resume)
            return df

        # ---- S1: mention extraction (JVM-side regex scan) --------------
        mentions = stage("s1_mentions", lambda: extract_mentions(docs, cfg.rules))
        values = mentions_as_values(mentions)

        # ---- S1b: media feature extraction (interleaved non-text spans) --
        # Arrow-batched over the typed media table; the decode is
        # deployment-pluggable (multimodal.extract_features). Optional:
        # enabled by config, off adds zero jobs.
        media_features = None
        if cfg.media_features:
            from ..operators.multimodal import extract_features, media_spans

            media_features = stage("s1b_media", lambda: extract_features(
                media_spans(docs), dim=cfg.media_feature_dim
            ))

        # ---- S2: JW entity linking --------------------------------------
        # The edge snapshot holds *value-level* links (matched string
        # pairs, pre-resource-fan-out) — orders of magnitude smaller than
        # resource edges and the input to value-level canonicalization.
        # Curated correspondsNot pairs are a plan concern (run_plan's
        # MappingGraph steps), not a pipeline one.
        edges = stage("s2_edges", lambda: jw_mapping(
            values,
            list(cfg.variables),
            cfg.threshold,
            case_sensitive=cfg.case_sensitive,
            block=cfg.block,
            return_value_links=True,
        ))

        # ---- S3: canonicalization (CC over the value graph) --------------
        canonical = stage("s3_canonical", lambda: canonical_from_value_links(
            edges, values, list(cfg.variables), cfg.case_sensitive
        ))

        # ---- S4: triple materialization with span provenance ------------
        triples = stage("s4_triples", lambda: self._materialize_triples(mentions, canonical))

        # ---- S5: population + property measures over the linked entities
        # (cached: the build and a later findings read share one
        # population_comparison)
        @cache
        def compare() -> tuple[DataFrame, DataFrame]:
            members = values.select("dataset", "resource").distinct()
            measures, findings = population_comparison(
                self.spark, members, canonical, cfg.aspect
            )
            if cfg.property_measures:
                from ..operators.property_cmp import property_comparison

                pmeasures, pfindings = property_comparison(
                    self.spark, values, members, canonical, cfg.aspect,
                    list(cfg.variables),
                )
                measures = measures.unionByName(pmeasures)
                findings = findings.unionByName(pfindings)
            return measures, findings

        measures = stage("s5_measures", lambda: compare()[0])
        return PipelineResult(
            mentions, edges, canonical, triples, measures,
            lambda: compare()[1], metrics, media_features,
        )

    def _materialize_triples(self, mentions: DataFrame, canonical: DataFrame) -> DataFrame:
        """(subj=canonical entity IRI, pred, obj) rows; every mention doc
        contributes a sameAs triple and a label triple, with (doc_id,
        span_idx) provenance so span-sequence equality vs the source table
        stays checkable per row."""
        m = link_canonical(mentions, canonical)
        return label_triples(m).unionByName(same_as_triples(m).distinct())


def link_canonical(
    mentions: DataFrame, canonical: DataFrame, broadcast: bool = False
) -> DataFrame:
    """Mentions joined to the canonical entity map; resources absent from
    the map keep their own id (they become their own canonical entity
    until a later re-canonicalization supersedes them). ``broadcast=True``
    for the streaming stream-static join, where the map is a bounded
    bootstrap snapshot."""
    c = F.broadcast(canonical) if broadcast else canonical
    return mentions.join(c, "resource", "left").withColumn(
        "canonical_id", F.coalesce("canonical_id", F.col("resource"))
    )


def _subj() -> Column:
    return F.concat(F.lit("urn:entity:"), F.col("canonical_id"))


def label_triples(linked: DataFrame) -> DataFrame:
    """One label triple per mention (S4's value rows). Shared by the batch
    pipeline and ``streaming.stream.streaming_triples`` so the two
    surfaces cannot drift."""
    return linked.select(
        _subj().alias("s"),
        F.col("variable").alias("p"),
        F.lit("literal").alias("o_kind"),
        F.col("value").alias("o_value"),
        F.lit(XSD_STRING).alias("o_datatype"),
        F.lit("").alias("o_lang"),
        "doc_id",
        F.col("span_idx").cast("int").alias("span_idx"),
    )


def same_as_triples(linked: DataFrame) -> DataFrame:
    """Per-mention sameAs rows (pre-dedup): the batch path applies
    ``.distinct()``; the streaming path instead derives one row per
    (doc, matching span) statelessly — equivalent because resource =
    doc_id, so duplicates only ever arise within a single document row."""
    return linked.select(
        _subj().alias("s"),
        F.lit("sameAs").alias("p"),
        F.lit("iri").alias("o_kind"),
        F.concat(F.lit("urn:doc:"), F.col("doc_id")).alias("o_value"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit("").alias("o_lang"),
        "doc_id",
        F.col("span_idx").cast("int").alias("span_idx"),
    )


def verify_span_invariant(docs: DataFrame, triples: DataFrame) -> int:
    """North-rule per-row invariant: every (doc_id, span_idx) referenced by
    an emitted triple must exist in the source doc with kind='text', and
    span order (offset monotonicity) must hold. Returns violation count."""
    spans = docs.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "span")
    ).select(
        "doc_id",
        F.col("span_idx").cast("int").alias("span_idx"),
        F.col("span.kind").alias("kind"),
        F.col("span.offset").alias("offset"),
    )
    refs = triples.where(F.col("span_idx").isNotNull()).select("doc_id", "span_idx").distinct()
    dangling = refs.join(
        spans.where(F.col("kind") == "text"), ["doc_id", "span_idx"], "left_anti"
    ).count()

    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("span_idx")
    disorder = (
        spans.withColumn("prev", F.lag("offset").over(w))
        .where(F.col("prev").isNotNull() & (F.col("offset") <= F.col("prev")))
        .count()
    )
    return dangling + disorder
