"""Declarative plan-DAG executor — the Spark analog of the reference's
plan machinery (`Abecto.java:119-186` load/execute, `Plans.java:42-84`
plan + predecessor closure, `Step.java:89-135` step construction with
parameter injection), generalizing the hardcoded ``DocsPipeline``.

A plan is plain data (dict / JSON-compatible), one entry per step::

    plan = {
      "aspects": {
        "person": {
          "key_var": "person",
          "patterns": {"d1": "SELECT ?person ?label WHERE {...}", ...},
        }
      },
      "steps": [
        {"id": "src1", "processor": "file_source", "dataset": "d1",
         "params": {"path": ".../d1.nt"}},
        {"id": "rules", "processor": "forward_rules", "dataset": "d1",
         "inputs": ["src1"], "params": {"rules": "[...]"}},
        {"id": "jw", "processor": "jw_mapping", "inputs": ["src1", ...],
         "params": {"aspect": "person", "variables": ["label"],
                    "threshold": 0.9, "case_sensitive": False,
                    "incorrespondences": [["iriA", "iriB"]]}},
        {"id": "pop", "processor": "population_comparison",
         "inputs": ["jw"], "params": {"aspects": ["person"]}},
      ],
    }

Steps run in topological order (predecessor counts, like
`Abecto.java:303-305`); mapping steps accumulate correspondence edges
through a shared ``MappingGraph`` so later steps see the closure of
earlier ones with first-wins incorrespondence vetoes
(`MappingProcessor.java:94-122`, `README.md:389-394`). When a
``SnapshotStore`` is supplied, each step's primary output is checkpointed
under a config token chained through its predecessors — editing any
upstream step's parameters invalidates exactly the downstream snapshots,
which is the resume contract of the north rule.

Spark-first notes: the reference executes steps on a thread pool because
each processor is single-threaded; here every step is itself a
distributed job, so the driver sequences steps and lets AQE parallelize
inside them. Values tables per (aspect, dataset) are compiled lazily from
the *current* primary state via the SPARQL aspect layer (sparql.py) and
cached per step-state version.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import EDGES_SCHEMA, FINDINGS_SCHEMA, MEASURES_SCHEMA
from ..operators.closure import MappingGraph
from ..sources.checkpoint import SnapshotStore
from ..sparql import aspect_pattern_values


class PlanError(ValueError):
    pass


@dataclass
class PlanState:
    """Execution state threaded through the steps (the Spark analog of
    the reference's growing RDF dataset of named graphs)."""

    spark: SparkSession
    aspects: dict
    primary: dict = field(default_factory=dict)  # dataset -> [triples DF]
    graph: MappingGraph | None = None
    measures: DataFrame | None = None
    findings: DataFrame | None = None
    wrong_values: DataFrame | None = None  # ingested av:WrongValue rows
    manifests: dict = field(default_factory=dict)
    _values_cache: dict = field(default_factory=dict)
    _version: int = 0  # bumped when primary data changes → values cache drop

    def add_primary(self, dataset: str, triples: DataFrame) -> None:
        self.primary.setdefault(dataset, []).append(triples)
        self._version += 1

    def primary_union(self, dataset: str) -> DataFrame:
        parts = self.primary.get(dataset)
        if not parts:
            raise PlanError(f"no primary data for dataset {dataset!r}")
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p, allowMissingColumns=True)
        return df

    def mapping_graph(self) -> MappingGraph:
        if self.graph is None:
            self.graph = MappingGraph(self.spark)
        return self.graph

    def canonical(self) -> DataFrame:
        return self.mapping_graph().canonical()

    def aspect_values(self, aspect: str) -> tuple[DataFrame, DataFrame]:
        """(values, members) across all datasets covered by the aspect's
        patterns, compiled from the current primary state."""
        key = (aspect, self._version)
        if key in self._values_cache:
            return self._values_cache[key]
        spec = self.aspects.get(aspect)
        if spec is None:
            raise PlanError(f"unknown aspect {aspect!r}")
        values = members = None
        for dataset, pattern in sorted(spec["patterns"].items()):
            if dataset not in self.primary:
                continue
            v, m = aspect_pattern_values(
                self.primary_union(dataset), dataset, pattern, spec["key_var"]
            )
            values = v if values is None else values.unionByName(v)
            members = m if members is None else members.unionByName(m)
        if values is None:
            raise PlanError(f"aspect {aspect!r} matches no loaded dataset")
        self._values_cache[key] = (values, members)
        return values, members

    def add_measures(self, m: DataFrame) -> None:
        self.measures = m if self.measures is None else self.measures.unionByName(m)

    def add_findings(self, f: DataFrame) -> None:
        self.findings = f if self.findings is None else self.findings.unionByName(f)

    def add_wrong_values(self, wv: DataFrame) -> None:
        self.wrong_values = (
            wv if self.wrong_values is None
            else self.wrong_values.unionByName(wv)
        )


@dataclass
class PlanResult:
    primary: dict
    edges: DataFrame
    canonical: DataFrame
    measures: DataFrame
    findings: DataFrame
    manifests: dict
    # av:WrongValue annotations ingested from metadata graphs, kept for
    # the CLI's --failOnWrongValue exit bit (`Abecto.java:225-227`)
    wrong_values: DataFrame | None = None


# ---------------------------------------------------------------------------
# processors (the registry the reference resolves by java: class IRI,
# `Step.java:100-111`)


def _norm_ingest(df: DataFrame) -> DataFrame:
    """Normalize ingested triples to the engine's term convention
    (literal o_datatype never NULL — xsd:string default; o_lang '' not
    NULL; non-literal o_datatype NULL) so downstream exceptAll deltas and
    term-equality joins are stable regardless of the input file's form."""
    from ..model import XSD_STRING

    return df.select(
        "s", "p", "o_kind", "o_value",
        F.when(
            F.col("o_kind") == "literal",
            F.coalesce("o_datatype", F.lit(XSD_STRING)),
        ).alias("o_datatype"),
        F.coalesce("o_lang", F.lit("")).alias("o_lang"),
    )


def _p_file_source(state: PlanState, step: dict) -> None:
    from ..sources.formats import read_rdf_local

    params, dataset = step.get("params", {}), step.get("dataset")
    if dataset is None:
        raise PlanError(f"step {step['id']}: file_source needs a dataset")
    paths = params.get("path")
    paths = [paths] if isinstance(paths, str) else list(paths or [])
    if not paths and "rows" not in params:
        raise PlanError(f"step {step['id']}: file_source needs path or rows")
    for path in paths:
        # format sniffing (`util/Models.java:66-95`): Turtle/TriG/RDF/XML/
        # JSON-LD parse driver-side; N-Triples/N-Quads via the distributed
        # parser
        state.add_primary(dataset, _norm_ingest(read_rdf_local(state.spark, path)))
    if "rows" in params:  # inline triples (tests / tiny fixtures)
        ddl = ("s string, p string, o_kind string, o_value string,"
               " o_datatype string, o_lang string")
        state.add_primary(
            dataset,
            _norm_ingest(state.spark.createDataFrame(params["rows"], ddl)),
        )


def _p_url_source(state: PlanState, step: dict) -> None:
    """`UrlSourceProcessor.java:29-43` — driver-side URL fetch into the
    primary model (file:// and plain paths via the multi-format reader)."""
    from ..sources.sparql_source import url_source

    params, dataset = step.get("params", {}), step.get("dataset")
    if dataset is None:
        raise PlanError(f"step {step['id']}: url_source needs a dataset")
    urls = params.get("url")
    urls = [urls] if isinstance(urls, str) else list(urls or [])
    if not urls:
        raise PlanError(f"step {step['id']}: url_source needs url")
    state.add_primary(dataset, _norm_ingest(url_source(state.spark, urls)))


def _p_sparql_source(state: PlanState, step: dict) -> None:
    """`SparqlSourceProcessor.java:63-387` — frontier crawl of a SPARQL
    endpoint. The ``service`` parameter is either a file:// URL / path
    whose graph backs a LocalGraphEndpoint, or an http(s):// SPARQL
    endpoint served through HttpSparqlEndpoint (chunked VALUES-CONSTRUCT
    with adaptive chunk sizing and bounded retries)."""
    from ..sources.formats import read_rdf_local
    from ..sources.sparql_source import (
        DEFAULT_FOLLOW_UNLIMITED,
        HttpSparqlEndpoint,
        LocalGraphEndpoint,
        sparql_source,
    )

    params, dataset = step.get("params", {}), step.get("dataset")
    if dataset is None:
        raise PlanError(f"step {step['id']}: sparql_source needs a dataset")
    service = params.get("service")
    if not service:
        raise PlanError(f"step {step['id']}: sparql_source needs service")
    if service.startswith(("http://", "https://")):
        endpoint = HttpSparqlEndpoint(
            state.spark,
            service,
            chunk_size=int(params.get("chunkSize", 500)),
            max_retries=int(params.get("maxRetries", 128)),
        )
    else:
        path = (
            service[len("file://"):] if service.startswith("file://")
            else service
        )
        endpoint = LocalGraphEndpoint(
            _norm_ingest(read_rdf_local(state.spark, path))
        )
    out = sparql_source(
        state.spark,
        endpoint,
        query=params.get("query"),
        list_=params.get("list"),
        max_distance=int(params.get("maxDistance", 0)),
        follow_inverse=tuple(params.get("followInverse", ())),
        follow_unlimited=tuple(
            params.get("followUnlimited", DEFAULT_FOLLOW_UNLIMITED)
        ),
        follow_inverse_unlimited=tuple(
            params.get("followInverseUnlimited", ())
        ),
        ignore_inverse=tuple(params.get("ignoreInverse", ())),
    )
    state.add_primary(dataset, out)


def _p_construct(state: PlanState, step: dict) -> None:
    from ..operators.rule_text import apply_construct

    params, dataset = step.get("params", {}), step.get("dataset")
    if dataset is None:
        raise PlanError(f"step {step['id']}: construct needs a dataset")
    base = state.primary_union(dataset)
    out = apply_construct(base, params["query"], params.get("max_iterations", 1))
    # exceptAll, not left_anti: o_datatype is NULL for IRI objects and an
    # anti-join's equality keys would treat every such base row as new
    derived = out.exceptAll(base.select(out.columns))
    state.add_primary(dataset, derived)


def _p_forward_rules(state: PlanState, step: dict) -> None:
    from ..operators.rule_text import apply_jena_rules

    params, dataset = step.get("params", {}), step.get("dataset")
    if dataset is None:
        raise PlanError(f"step {step['id']}: forward_rules needs a dataset")
    base = state.primary_union(dataset)
    out = apply_jena_rules(base, params["rules"], params.get("max_iterations", 50))
    derived = out.exceptAll(base.select(out.columns))
    state.add_primary(dataset, derived)


def _load_meta_triples(state: PlanState, path: str) -> DataFrame:
    from ..sources.formats import read_rdf_local

    return read_rdf_local(state.spark, path)


def _register_incorr(state: PlanState, step: dict) -> None:
    """Predefined metadata for a mapping step (`Step.java:160-174`,
    av:predefinedMetaDataGraph): inline incorrespondence pairs and/or a
    metadata graph file carrying av:corresponds(Not)ToResource
    statements — registered before the step's own edges (first wins)."""
    params = step.get("params", {})
    pairs = params.get("incorrespondences") or []
    if pairs:
        state.mapping_graph().add_incorrespondences(
            state.spark.createDataFrame([tuple(p) for p in pairs], EDGES_SCHEMA)
        )
    meta = None
    meta_path = params.get("predefined_meta_path")
    if meta_path:
        meta = _load_meta_triples(state, meta_path)
    rows = params.get("predefined_meta_rows")
    if rows:  # inline triples, e.g. a TriG plan file's named graph
        ddl = ("s string, p string, o_kind string, o_value string,"
               " o_datatype string, o_lang string")
        inline = state.spark.createDataFrame([tuple(r) for r in rows], ddl)
        meta = inline if meta is None else meta.unionByName(inline)
    if meta is not None:
        from ..operators.metadata import correspondences_from_metadata

        corr, incorr = correspondences_from_metadata(meta)
        state.mapping_graph().add_incorrespondences(incorr)
        state.mapping_graph().add_correspondences(corr)


def _p_jw_mapping(state: PlanState, step: dict) -> None:
    from ..operators.jw_mapping import jw_mapping

    params = step["params"]
    values, _ = state.aspect_values(params["aspect"])
    _register_incorr(state, step)
    edges = jw_mapping(
        values,
        list(params["variables"]),
        float(params["threshold"]),
        case_sensitive=bool(params.get("case_sensitive", True)),
        block=params.get("block", "grams"),
    )
    state.mapping_graph().add_correspondences(edges)


def _p_eq_mapping(state: PlanState, step: dict) -> None:
    from ..operators.eq_mapping import equivalent_value_mapping

    params = step["params"]
    values, _ = state.aspect_values(params["aspect"])
    _register_incorr(state, step)
    edges = equivalent_value_mapping(
        values, list(params["variables"]), state.canonical()
    )
    state.mapping_graph().add_correspondences(edges)


def _p_fn_mapping(state: PlanState, step: dict) -> None:
    from ..operators.fn_mapping import functional_mapping

    params = step["params"]
    values, _ = state.aspect_values(params["referring_aspect"])
    _register_incorr(state, step)
    edges, issues = functional_mapping(
        values, params["referring_variable"], state.canonical()
    )
    state.mapping_graph().add_correspondences(edges)
    state.add_findings(issues)


def _p_present_mapping(state: PlanState, step: dict) -> None:
    from ..operators.present_mapping import use_present_mapping

    params = step["params"]
    values, _ = state.aspect_values(params["aspect"])
    _register_incorr(state, step)
    edges, issues = use_present_mapping(values, params["variable"])
    state.mapping_graph().add_correspondences(edges)
    state.add_findings(issues)


def _aspect_coverage(state: PlanState, aspect: str) -> tuple[list[str], dict]:
    """Datasets and per-variable coverage derived from the aspect's
    defining-query projections — "covered variables = query result vars"
    (`Aspect.java:347-355`)."""
    from ..sparql import pattern_vars

    spec = state.aspects[aspect]
    datasets = sorted(spec["patterns"])
    coverage: dict[str, list[str]] = {}
    for dataset, pattern in sorted(spec["patterns"].items()):
        for v in pattern_vars(pattern):
            if v != spec["key_var"]:
                coverage.setdefault(v, []).append(dataset)
    return datasets, coverage


def _p_population(state: PlanState, step: dict) -> None:
    from ..operators.population import population_comparison

    for aspect in step["params"]["aspects"]:
        _, members = state.aspect_values(aspect)
        datasets, _ = _aspect_coverage(state, aspect)
        measures, findings = population_comparison(
            state.spark, members, state.canonical(), aspect, datasets=datasets
        )
        state.add_measures(measures)
        state.add_findings(findings)


def _p_property(state: PlanState, step: dict) -> None:
    from ..operators.property_cmp import property_comparison

    params = step["params"]
    values, members = state.aspect_values(params["aspect"])
    datasets, coverage = _aspect_coverage(state, params["aspect"])
    kwargs = {}
    for k in ("language_filter_patterns", "allow_time_skip", "allow_lang_tag_skip"):
        if k in params:
            kwargs[k] = (
                tuple(params[k]) if k == "language_filter_patterns" else params[k]
            )
    # wrong-value suppression from metadata graphs (Metadata.java:199-228):
    # {"wrong_values_meta": {"<dataset>": "<path to .ttl/.nt>"}} and/or a
    # TriG plan file's av:predefinedMetaDataGraph on the comparison step
    wv = None
    if params.get("wrong_values_meta"):
        from ..operators.metadata import wrong_values_from_metadata

        for ds, path in sorted(params["wrong_values_meta"].items()):
            part = wrong_values_from_metadata(
                _load_meta_triples(state, path), ds
            )
            wv = part if wv is None else wv.unionByName(part)
    if params.get("predefined_meta_rows"):
        from ..operators.metadata import wrong_values_from_metadata

        ddl = ("s string, p string, o_kind string, o_value string,"
               " o_datatype string, o_lang string")
        inline = state.spark.createDataFrame(
            [tuple(r) for r in params["predefined_meta_rows"]], ddl
        )
        # the metadata graph doesn't name the owning dataset — attribute
        # each annotation to the dataset(s) whose aspect members contain
        # the annotated resource, as the reference does by looking in
        # each dataset's own meta model (Metadata.java:199-228)
        part = (
            wrong_values_from_metadata(inline, "")
            .drop("dataset")
            .join(members.select("dataset", "resource"), "resource")
            .select("dataset", "resource", "variable", "o_value")
        )
        wv = part if wv is None else wv.unionByName(part)
    if wv is not None:
        kwargs["wrong_values"] = wv
        state.add_wrong_values(wv)
    measures, findings = property_comparison(
        state.spark, values, members, state.canonical(), params["aspect"],
        list(params["variables"]),
        coverage={v: d for v, d in coverage.items() if v in params["variables"]},
        datasets=datasets,
        **kwargs,
    )
    state.add_measures(measures)
    state.add_findings(findings)


PROCESSORS = {
    "file_source": _p_file_source,
    "url_source": _p_url_source,
    "sparql_source": _p_sparql_source,
    "construct": _p_construct,
    "forward_rules": _p_forward_rules,
    "jw_mapping": _p_jw_mapping,
    "equivalent_value_mapping": _p_eq_mapping,
    "functional_mapping": _p_fn_mapping,
    "use_present_mapping": _p_present_mapping,
    "population_comparison": _p_population,
    "property_comparison": _p_property,
}


# ---------------------------------------------------------------------------
# driver


def _topo_order(steps: list[dict]) -> list[dict]:
    by_id = {s["id"]: s for s in steps}
    if len(by_id) != len(steps):
        raise PlanError("duplicate step ids")
    order, seen, visiting = [], set(), set()

    def visit(sid: str) -> None:
        if sid in seen:
            return
        if sid in visiting:
            raise PlanError(f"cycle through step {sid!r}")
        if sid not in by_id:
            raise PlanError(f"unknown predecessor {sid!r}")
        visiting.add(sid)
        for dep in by_id[sid].get("inputs", []):
            visit(dep)
        visiting.discard(sid)
        seen.add(sid)
        order.append(by_id[sid])

    for s in steps:
        visit(s["id"])
    return order


def _step_token(step: dict, upstream: list[str]) -> str:
    payload = json.dumps(
        {"step": {k: step.get(k) for k in ("id", "processor", "dataset", "params")},
         "upstream": sorted(upstream)},
        sort_keys=True, default=str,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def run_plan(
    spark: SparkSession,
    plan: dict,
    store: SnapshotStore | None = None,
    resume: bool = True,
) -> PlanResult:
    """Execute a plan dict (see module docstring). With a ``store``, each
    source/transform step's primary output snapshot is reused on resume
    when its chained config token matches."""
    state = PlanState(spark=spark, aspects=plan.get("aspects", {}))
    tokens: dict[str, str] = {}
    for step in _topo_order(list(plan["steps"])):
        proc = PROCESSORS.get(step["processor"])
        if proc is None:
            raise PlanError(f"unknown processor {step['processor']!r}")
        tok = _step_token(step, [tokens[i] for i in step.get("inputs", [])])
        tokens[step["id"]] = tok
        checkpointable = step["processor"] in (
            "file_source", "url_source", "sparql_source",
            "construct", "forward_rules",
        )
        if store is None or not checkpointable:
            proc(state, step)
            continue
        ds = step["dataset"]
        kept = len(state.primary.get(ds, []))

        def build() -> DataFrame:
            proc(state, step)
            return reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True),
                state.primary[ds][kept:],
            )

        snapshot, state.manifests[step["id"]] = store.stage(step["id"], tok, build, resume)
        # the step's primary output is the snapshot, not its lazy parts
        state.primary[ds] = state.primary.get(ds, [])[:kept]
        state.add_primary(ds, snapshot)

    empty_measures = spark.createDataFrame([], MEASURES_SCHEMA)
    empty_findings = spark.createDataFrame([], FINDINGS_SCHEMA)
    graph = state.mapping_graph()
    return PlanResult(
        primary={d: state.primary_union(d) for d in state.primary},
        edges=graph.corr,
        canonical=graph.canonical(),
        measures=state.measures if state.measures is not None else empty_measures,
        findings=state.findings if state.findings is not None else empty_findings,
        manifests=state.manifests,
        wrong_values=state.wrong_values,
    )
