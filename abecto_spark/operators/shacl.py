"""SHACL core-constraint validation over a distributed triples table.

The reference ships SHACL shapes only as a *syntax* it can read
(`util/Models.java:66-67` routes SHACL-C through Jena's shacl module);
validating a materialized KG against shapes is the natural next step a
knowledge-graph pipeline runs after triple emission, so this implements
the SHACL core subset the SHACL-C reader (``sources/shaclc.py``) can
express:

  targets      sh:targetClass (SHACL-instance semantics, i.e. including
               rdfs:subClassOf descendants), sh:targetNode (IRI/bnode),
               sh:targetSubjectsOf, sh:targetObjectsOf
  paths        a single predicate IRI, or its inverse
               (bnode with sh:inversePath)
  constraints  sh:minCount  sh:maxCount  sh:datatype  sh:class
               sh:nodeKind  sh:pattern [sh:flags]  sh:minLength
               sh:maxLength  sh:hasValue  sh:minInclusive
               sh:maxInclusive  sh:minExclusive  sh:maxExclusive
               sh:in  sh:languageIn  sh:uniqueLang
               sh:equals  sh:disjoint  sh:lessThan  sh:lessThanOrEquals
               (property pairs, §4.3) and node-shape-level sh:closed
               [sh:ignoredProperties] (§4.8.1)

Anything else in the shapes graph raises ``ShaclUnsupported`` loudly
(never silently skips a constraint — a validator that ignores
constraints reports false conformance).

Execution model: the *shapes* graph is configuration-sized (like a
query text), so it is collected to the driver once — with a loud guard
— and compiled into a single declarative plan over the *data* triples:
each constraint becomes a Catalyst filter/join/aggregate on the
distributed table and the *bounded* per-shape results are unioned.  No
Python runs per data row.  The rdfs:subClassOf closure needed for
SHACL-instance semantics is ``rules.transitive_closure`` over the
(tiny) subclass relation.

Violation rows: (shape, focus, path, component, value) — one row per
offending value node for value constraints, one row per focus node for
cardinality/hasValue; ``value`` is NULL for the latter, ``path`` uses
the SPARQL surface syntax (``^<iri>`` for inverse paths).
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import (
    NUMERIC_TYPES,
    XSD_BOOLEAN,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_FLOAT,
    XSD_INTEGER_TYPES,
    XSD_STRING,
)
from .rules import FixpointNotConverged, transitive_closure

SH = "http://www.w3.org/ns/shacl#"
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF_NS + "type"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"
RDFS_SUBCLASS = "http://www.w3.org/2000/01/rdf-schema#subClassOf"

#: XSD lexical grammars for sh:datatype well-formedness (Jena's
#: isValidLiteral — same regexes as rule_text's isDType builtin); other
#: datatypes trust the tag
_LEXICAL = {
    **{t: r"^[+-]?[0-9]+$" for t in XSD_INTEGER_TYPES},
    XSD_DECIMAL: r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)$",
    XSD_DOUBLE: (
        r"^(NaN|[+-]?(INF|([0-9]+(\.[0-9]*)?|\.[0-9]+)"
        r"([eE][+-]?[0-9]+)?))$"
    ),
    XSD_FLOAT: (
        r"^(NaN|[+-]?(INF|([0-9]+(\.[0-9]*)?|\.[0-9]+)"
        r"([eE][+-]?[0-9]+)?))$"
    ),
    XSD_BOOLEAN: r"^(true|false|1|0)$",
}

#: sh:nodeKind IRI → acceptable o_kind values
_NODE_KINDS = {
    SH + "IRI": ("iri",),
    SH + "BlankNode": ("bnode",),
    SH + "Literal": ("literal",),
    SH + "BlankNodeOrIRI": ("bnode", "iri"),
    SH + "BlankNodeOrLiteral": ("bnode", "literal"),
    SH + "IRIOrLiteral": ("iri", "literal"),
}

_VIOLATION_DDL = (
    "shape string, focus string, path string, component string,"
    " value string"
)


class ShaclUnsupported(ValueError):
    """A shapes-graph construct outside the supported core subset."""


class ShaclShapesTooLarge(ValueError):
    """The shapes graph exceeded the driver-collection guard."""


def _collect_shapes(shapes: DataFrame, max_triples: int):
    rows = shapes.limit(max_triples + 1).collect()
    if len(rows) > max_triples:
        raise ShaclShapesTooLarge(
            f"shapes graph exceeds {max_triples} triples — SHACL shapes are "
            "configuration, not data; raise max_shape_triples only if that "
            "is genuinely the case"
        )
    spo: dict[tuple[str, str], list] = {}
    for r in rows:
        spo.setdefault((r["s"], r["p"]), []).append(
            (r["o_kind"], r["o_value"], r["o_datatype"], r["o_lang"])
        )
    return spo


def _objects(spo, s, p):
    return spo.get((s, p), [])


def _one_literal(spo, s, p):
    vals = _objects(spo, s, p)
    if not vals:
        return None
    if len(vals) > 1:
        raise ShaclUnsupported(f"multiple {p} values on {s}")
    return vals[0]


def _int_param(spo, s, p):
    v = _one_literal(spo, s, p)
    return None if v is None else int(v[1])


def _rdf_list(spo, head_term):
    """Walk an rdf:first/rdf:rest list in the collected shapes graph —
    SHACL lists (sh:in, sh:languageIn, sh:ignoredProperties) are
    configuration-sized by construction."""
    kind, head = head_term[0], head_term[1]
    items = []
    seen = set()
    while head != RDF_NIL:
        if kind not in ("iri", "bnode") or head in seen:
            raise ShaclUnsupported(f"malformed SHACL list at {head}")
        seen.add(head)
        first = _objects(spo, head, RDF_FIRST)
        rest = _objects(spo, head, RDF_REST)
        if len(first) != 1 or len(rest) != 1:
            raise ShaclUnsupported(f"malformed SHACL list at {head}")
        items.append(first[0])
        kind, head = rest[0][0], rest[0][1]
    return items


def _subclass_closure(data: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Transitive rdfs:subClassOf pairs (sub, sup) from the data graph:
    ``rules.transitive_closure`` over the (sub, sup) edges; the subclass
    relation of a real KG is ontology-sized, so each round is a small
    join. A cycle or self-loop adds reflexive pairs, which ``_instances``
    ignores (a class is always in its own class set)."""
    edges = data.where(
        (F.col("p") == RDFS_SUBCLASS) & (F.col("o_kind") == "iri")
    ).select(F.col("s").alias("src"), F.col("o_value").alias("dst"))
    try:
        reach = transitive_closure(edges, max_rounds)
    except FixpointNotConverged as exc:
        raise ShaclUnsupported(
            f"rdfs:subClassOf closure did not converge in {max_rounds} rounds"
        ) from exc
    return reach.select(F.col("src").alias("sub"), F.col("dst").alias("sup"))


def _instances(data: DataFrame, closure: DataFrame, cls: str) -> DataFrame:
    """(node) SHACL instances of ``cls``: direct rdf:type plus types that
    are subClassOf* descendants of ``cls``."""
    subs = closure.where(F.col("sup") == F.lit(cls)).select(
        F.col("sub").alias("cls")
    )
    classes = subs.unionByName(
        subs.sparkSession.createDataFrame([(cls,)], "cls string")
    ).distinct()
    types = data.where(
        (F.col("p") == RDF_TYPE) & (F.col("o_kind") == "iri")
    ).select(F.col("s").alias("node"), F.col("o_value").alias("cls"))
    return types.join(F.broadcast(classes), "cls").select("node").distinct()


def _term_str(kind_col, value_col):
    """The SPARQL STR() surface used by pattern/length constraints —
    the lexical form for literals, the IRI string for IRIs."""
    return value_col


def shacl_validate(
    data: DataFrame,
    shapes: DataFrame,
    max_shape_triples: int = 100_000,
) -> DataFrame:
    """Validate ``data`` (s, p, o_kind, o_value, o_datatype, o_lang)
    against the SHACL ``shapes`` graph; returns the violation relation
    described in the module docstring (empty ⇔ conformant)."""
    spark: SparkSession = data.sparkSession
    spo = _collect_shapes(shapes, max_shape_triples)

    # node shapes: declared sh:NodeShape subjects plus anything targeted
    node_shapes = sorted(
        {
            s
            for (s, p), vals in spo.items()
            if (
                p == RDF_TYPE
                and any(v[1] == SH + "NodeShape" for v in vals)
            )
            or p
            in (
                SH + "targetClass",
                SH + "targetNode",
                SH + "targetSubjectsOf",
                SH + "targetObjectsOf",
            )
        }
    )

    closure = None
    needs_closure = any(
        p in (SH + "targetClass", SH + "class") for (_, p) in spo
    )
    if needs_closure:
        closure = _subclass_closure(data)

    empty = spark.createDataFrame([], _VIOLATION_DDL)
    out = [empty]

    for shape in node_shapes:
        focus = _focus_nodes(spark, data, closure, spo, shape)
        if focus is None:
            continue
        focus = focus.distinct().localCheckpoint(eager=True)
        for _, pv, pd, _l in _objects(spo, shape, SH + "property"):
            out.append(
                _property_violations(data, closure, spo, shape, pv, focus)
            )
        cl = _one_literal(spo, shape, SH + "closed")
        if cl is not None and cl[1] in ("true", "1"):
            out.append(_closed_violations(data, spo, shape, focus))
    if len(out) == 1:
        return empty
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


def _focus_nodes(spark, data, closure, spo, shape):
    parts = []
    for kind, v, _dt, _l in _objects(spo, shape, SH + "targetClass"):
        if kind != "iri":
            raise ShaclUnsupported(f"non-IRI sh:targetClass on {shape}")
        parts.append(_instances(data, closure, v))
    tn = _objects(spo, shape, SH + "targetNode")
    if tn:
        consts = []
        for kind, v, _dt, _l in tn:
            if kind == "literal":
                raise ShaclUnsupported(
                    f"literal sh:targetNode on {shape} (unsupported)"
                )
            consts.append((v,))
        parts.append(spark.createDataFrame(consts, "node string"))
    for kind, v, _dt, _l in _objects(spo, shape, SH + "targetSubjectsOf"):
        if kind != "iri":
            raise ShaclUnsupported(f"non-IRI sh:targetSubjectsOf on {shape}")
        parts.append(
            data.where(F.col("p") == v).select(F.col("s").alias("node"))
        )
    for kind, v, _dt, _l in _objects(spo, shape, SH + "targetObjectsOf"):
        if kind != "iri":
            raise ShaclUnsupported(f"non-IRI sh:targetObjectsOf on {shape}")
        parts.append(
            data.where(
                (F.col("p") == v) & (F.col("o_kind").isin("iri", "bnode"))
            ).select(F.col("o_value").alias("node"))
        )
    if not parts:
        return None
    res = parts[0]
    for df in parts[1:]:
        res = res.unionByName(df)
    return res


_KNOWN_PARAMS = {
    SH + "path",
    SH + "minCount",
    SH + "maxCount",
    SH + "datatype",
    SH + "class",
    SH + "nodeKind",
    SH + "pattern",
    SH + "flags",
    SH + "minLength",
    SH + "maxLength",
    SH + "hasValue",
    SH + "minInclusive",
    SH + "maxInclusive",
    SH + "minExclusive",
    SH + "maxExclusive",
    SH + "in",
    SH + "languageIn",
    SH + "uniqueLang",
    SH + "equals",
    SH + "disjoint",
    SH + "lessThan",
    SH + "lessThanOrEquals",
}

#: integer/decimal pairs (XSD_INTEGER_TYPES includes xsd:decimal)
#: compare in this type: exact to 20 integer and 18 fractional digits,
#: where double rounds integers past 2^53
_WIDE_DECIMAL = "decimal(38,18)"


def _num_cmp(op, v, v_dt, w, w_dt):
    """``op(v, w)`` over two numeric lexical-form columns: as
    ``_WIDE_DECIMAL`` when both datatypes are integer or decimal and
    both values fit it, as double otherwise (NULL if not numeric)."""
    vd, wd = v.try_cast(_WIDE_DECIMAL), w.try_cast(_WIDE_DECIMAL)
    exact = (
        v_dt.isin(*XSD_INTEGER_TYPES) & w_dt.isin(*XSD_INTEGER_TYPES)
        & vd.isNotNull() & wd.isNotNull()
    )
    return F.when(exact, op(vd, wd)).otherwise(
        op(v.try_cast("double"), w.try_cast("double"))
    )


def _closed_violations(data, spo, shape, focus):
    """sh:closed true (§4.8.1): a violation for every (focus, p, o)
    whose predicate is neither a direct-IRI sh:path of one of the
    shape's property shapes nor listed in sh:ignoredProperties.  The
    reported ``path`` is the offending predicate itself."""
    allowed: set[str] = set()
    for _, pv, _dt, _l in _objects(spo, shape, SH + "property"):
        pobjs = _objects(spo, pv, SH + "path")
        if len(pobjs) == 1 and pobjs[0][0] == "iri":
            allowed.add(pobjs[0][1])
    ign = _objects(spo, shape, SH + "ignoredProperties")
    if len(ign) > 1:
        raise ShaclUnsupported(f"multiple sh:ignoredProperties on {shape}")
    if ign:
        for kind, v, _dt, _l in _rdf_list(spo, ign[0]):
            if kind != "iri":
                raise ShaclUnsupported(
                    f"non-IRI sh:ignoredProperties member on {shape}"
                )
            allowed.add(v)
    bad = data.join(
        focus.withColumnRenamed("node", "s").hint("broadcast"), "s"
    )
    if allowed:
        bad = bad.where(~F.col("p").isin(*sorted(allowed)))
    return bad.select(
        F.lit(shape).alias("shape"),
        F.col("s").alias("focus"),
        F.concat(F.lit("<"), F.col("p"), F.lit(">")).alias("path"),
        F.lit("Closed").alias("component"),
        F.col("o_value").alias("value"),
    )


def _property_violations(data, closure, spo, shape, pshape, focus):
    # loud on constraint parameters outside the subset
    for (s, p) in spo:
        if s == pshape and p not in _KNOWN_PARAMS:
            raise ShaclUnsupported(
                f"unsupported SHACL parameter {p} on property shape {pshape}"
            )

    path_objs = _objects(spo, pshape, SH + "path")
    if len(path_objs) != 1:
        raise ShaclUnsupported(f"property shape {pshape} needs one sh:path")
    pk, pvl, _pd, _pl = path_objs[0]
    inverse = False
    if pk == "bnode":
        inv = _objects(spo, pvl, SH + "inversePath")
        if len(inv) != 1 or inv[0][0] != "iri":
            raise ShaclUnsupported(
                f"unsupported sh:path structure on {pshape}"
            )
        inverse, pred = True, inv[0][1]
    elif pk == "iri":
        pred = pvl
    else:
        raise ShaclUnsupported(f"unsupported sh:path term on {pshape}")
    path_str = ("^<%s>" if inverse else "<%s>") % pred

    if inverse:
        vals = (
            data.where(
                (F.col("p") == pred) & (F.col("o_kind").isin("iri", "bnode"))
            )
            .join(focus.withColumnRenamed("node", "o_value").hint("broadcast"),
                  "o_value")
            .select(
                F.col("o_value").alias("focus"),
                # inverse-path value nodes are the triple subjects;
                # bnode subjects carry the "_:" label prefix (the same
                # convention sparql._subject_struct keys on)
                F.when(F.col("s").startswith("_:"), F.lit("bnode"))
                .otherwise(F.lit("iri")).alias("v_kind"),
                F.col("s").alias("v_value"),
                F.lit(None).cast("string").alias("v_datatype"),
                F.lit("").alias("v_lang"),
            )
        )
    else:
        vals = (
            data.where(F.col("p") == pred)
            .join(focus.withColumnRenamed("node", "s").hint("broadcast"), "s")
            .select(
                F.col("s").alias("focus"),
                F.col("o_kind").alias("v_kind"),
                F.col("o_value").alias("v_value"),
                F.col("o_datatype").alias("v_datatype"),
                F.col("o_lang").alias("v_lang"),
            )
        )
    # value nodes are a set: a duplicated triple is one value node, so
    # sh:minCount/maxCount must not count it twice
    vals = vals.distinct().localCheckpoint(eager=True)

    def report(df, component, value_col=None):
        return df.select(
            F.lit(shape).alias("shape"),
            F.col("focus"),
            F.lit(path_str).alias("path"),
            F.lit(component).alias("component"),
            (value_col if value_col is not None
             else F.lit(None).cast("string")).alias("value"),
        )

    out = []

    min_c = _int_param(spo, pshape, SH + "minCount")
    max_c = _int_param(spo, pshape, SH + "maxCount")
    if min_c is not None or max_c is not None:
        counts = focus.join(
            vals.groupBy("focus").agg(F.count(F.lit(1)).alias("n")),
            focus["node"] == F.col("focus"),
            "left",
        ).select(
            F.col("node").alias("focus"),
            F.coalesce("n", F.lit(0)).alias("n"),
        )
        if min_c is not None:
            out.append(report(
                counts.where(F.col("n") < min_c).select("focus"), "MinCount"
            ))
        if max_c is not None:
            out.append(report(
                counts.where(F.col("n") > max_c).select("focus"), "MaxCount"
            ))

    dt = _one_literal(spo, pshape, SH + "datatype")
    if dt is not None:
        if dt[0] != "iri":
            raise ShaclUnsupported(f"non-IRI sh:datatype on {pshape}")
        ok = (
            (F.col("v_kind") == "literal")
            & (F.coalesce("v_datatype", F.lit("")) == dt[1])
            & (F.coalesce("v_lang", F.lit("")) == "")
        )
        lex = _LEXICAL.get(dt[1])
        if lex is not None:  # ill-formed literals violate sh:datatype
            ok = ok & F.col("v_value").rlike(lex)
        out.append(report(vals.where(~ok), "Datatype", F.col("v_value")))

    # multiple sh:class values are multiple conjunctive constraints
    # (SHACL §4.1.1) — every value node must be an instance of each
    for cls in _objects(spo, pshape, SH + "class"):
        if cls[0] != "iri":
            raise ShaclUnsupported(f"non-IRI sh:class on {pshape}")
        inst = _instances(data, closure, cls[1]).withColumnRenamed(
            "node", "v_value"
        )
        bad = vals.where(F.col("v_kind") != "literal").join(
            inst, "v_value", "left_anti"
        ).unionByName(vals.where(F.col("v_kind") == "literal"))
        out.append(report(bad, "Class", F.col("v_value")))

    nk = _one_literal(spo, pshape, SH + "nodeKind")
    if nk is not None:
        kinds = _NODE_KINDS.get(nk[1])
        if kinds is None:
            raise ShaclUnsupported(f"unknown sh:nodeKind {nk[1]} on {pshape}")
        out.append(report(
            vals.where(~F.col("v_kind").isin(*kinds)), "NodeKind",
            F.col("v_value"),
        ))

    pat = _one_literal(spo, pshape, SH + "pattern")
    if pat is not None:
        flags = _one_literal(spo, pshape, SH + "flags")
        rx = pat[1]
        if flags is not None and flags[1]:
            if set(flags[1]) - {"i", "s", "m"}:
                raise ShaclUnsupported(
                    f"unsupported sh:flags {flags[1]!r} on {pshape}"
                )
            rx = f"(?{flags[1]}){rx}"
        # bnodes are ill-formed for sh:pattern → always violations
        bad = vals.where(
            (F.col("v_kind") == "bnode")
            | ~_term_str(F.col("v_kind"), F.col("v_value")).rlike(rx)
        )
        out.append(report(bad, "Pattern", F.col("v_value")))

    min_l = _int_param(spo, pshape, SH + "minLength")
    if min_l is not None:
        bad = vals.where(
            (F.col("v_kind") == "bnode")
            | (F.length(F.col("v_value")) < min_l)
        )
        out.append(report(bad, "MinLength", F.col("v_value")))
    max_l = _int_param(spo, pshape, SH + "maxLength")
    if max_l is not None:
        bad = vals.where(
            (F.col("v_kind") == "bnode")
            | (F.length(F.col("v_value")) > max_l)
        )
        out.append(report(bad, "MaxLength", F.col("v_value")))

    for param, comp, op in (
        ("minInclusive", "MinInclusive", operator.ge),
        ("maxInclusive", "MaxInclusive", operator.le),
        ("minExclusive", "MinExclusive", operator.gt),
        ("maxExclusive", "MaxExclusive", operator.lt),
    ):
        lim = _one_literal(spo, pshape, SH + param)
        if lim is None:
            continue
        float(lim[1])  # a non-numeric limit is a shapes error
        num = F.col("v_value").try_cast("double")
        ok = _num_cmp(
            op, F.col("v_value"), F.coalesce("v_datatype", F.lit("")),
            F.lit(lim[1]), F.lit(lim[2] or ""),
        )
        # non-literal or non-numeric value nodes cannot satisfy a range
        # comparison → violations (SHACL: comparison failure violates)
        bad = vals.where(
            (F.col("v_kind") != "literal") | num.isNull() | ~ok
        )
        out.append(report(bad, comp, F.col("v_value")))

    # likewise each sh:hasValue is its own constraint (§4.1.4)
    for kind, v, vdt, vlang in _objects(spo, pshape, SH + "hasValue"):
        match = vals.where(
            (F.col("v_kind") == kind)
            & (F.col("v_value") == v)
            & (F.coalesce("v_datatype", F.lit(""))
               == (vdt or ""))
            & (F.coalesce("v_lang", F.lit("")) == (vlang or ""))
        ).select(F.col("focus").alias("node"))
        out.append(report(
            focus.join(match, "node", "left_anti")
            .select(F.col("node").alias("focus")),
            "HasValue",
        ))

    in_objs = _objects(spo, pshape, SH + "in")
    if in_objs:
        if len(in_objs) > 1:
            raise ShaclUnsupported(f"multiple sh:in on {pshape}")
        members = _rdf_list(spo, in_objs[0])
        # membership is term equality (kind, lexical form, datatype,
        # lang) — the comparison Jena's engine applies for sh:in
        ok = F.lit(False)
        for kind, v, vdt, vlang in members:
            ok = ok | (
                (F.col("v_kind") == kind)
                & (F.col("v_value") == v)
                & (F.coalesce("v_datatype", F.lit("")) == (vdt or ""))
                & (F.coalesce("v_lang", F.lit("")) == (vlang or ""))
            )
        out.append(report(vals.where(~ok), "In", F.col("v_value")))

    li_objs = _objects(spo, pshape, SH + "languageIn")
    if li_objs:
        if len(li_objs) > 1:
            raise ShaclUnsupported(f"multiple sh:languageIn on {pshape}")
        ranges = []
        for kind, v, _dt, _l in _rdf_list(spo, li_objs[0]):
            if kind != "literal":
                raise ShaclUnsupported(
                    f"non-literal sh:languageIn member on {pshape}"
                )
            ranges.append(v)
        # RFC 4647 basic filtering per range, as SPARQL langMatches
        lang = F.lower(F.coalesce("v_lang", F.lit("")))
        ok = F.lit(False)
        for r in ranges:
            rl = r.lower()
            if rl == "*":
                ok = ok | (lang != "")
            else:
                ok = ok | (lang == rl) | lang.startswith(rl + "-")
        bad = vals.where((F.col("v_kind") != "literal") | ~ok)
        out.append(report(bad, "LanguageIn", F.col("v_value")))

    ul = _one_literal(spo, pshape, SH + "uniqueLang")
    if ul is not None and ul[1] in ("true", "1"):
        # one violation per focus per language tag shared by ≥2 value
        # nodes (§4.2.5); value nodes are a SET, so duplicate triples
        # don't count twice; the reported value is the duplicated tag
        dup = (
            vals.where(
                (F.col("v_kind") == "literal")
                & (F.coalesce("v_lang", F.lit("")) != "")
            )
            .groupBy("focus", F.lower("v_lang").alias("v_lang"))
            .agg(F.countDistinct("v_value").alias("n"))
            .where(F.col("n") > 1)
        )
        out.append(report(dup, "UniqueLang", F.col("v_lang")))

    def _other_values(pred2):
        return (
            data.where(F.col("p") == pred2)
            .join(
                focus.withColumnRenamed("node", "s").hint("broadcast"), "s"
            )
            .select(
                F.col("s").alias("focus"),
                F.col("o_kind").alias("w_kind"),
                F.col("o_value").alias("w_value"),
                F.coalesce("o_datatype", F.lit("")).alias("w_datatype"),
                F.coalesce("o_lang", F.lit("")).alias("w_lang"),
            )
        )

    nvals = vals.select(
        "focus",
        F.col("v_kind").alias("w_kind"),
        F.col("v_value").alias("w_value"),
        F.coalesce("v_datatype", F.lit("")).alias("w_datatype"),
        F.coalesce("v_lang", F.lit("")).alias("w_lang"),
    )
    term_keys = ["focus", "w_kind", "w_value", "w_datatype", "w_lang"]

    for kind, v, _dt, _l in _objects(spo, pshape, SH + "equals"):
        if kind != "iri":
            raise ShaclUnsupported(f"non-IRI sh:equals on {pshape}")
        other = _other_values(v)
        # §4.3.1: a violation per value node absent from the other
        # predicate's values, and per other-predicate value absent here
        out.append(report(
            nvals.join(other, term_keys, "left_anti"), "Equals",
            F.col("w_value"),
        ))
        out.append(report(
            other.join(nvals, term_keys, "left_anti"), "Equals",
            F.col("w_value"),
        ))

    for kind, v, _dt, _l in _objects(spo, pshape, SH + "disjoint"):
        if kind != "iri":
            raise ShaclUnsupported(f"non-IRI sh:disjoint on {pshape}")
        out.append(report(
            nvals.join(_other_values(v), term_keys, "left_semi"),
            "Disjoint", F.col("w_value"),
        ))

    for param, comp, strict in (
        ("lessThan", "LessThan", True),
        ("lessThanOrEquals", "LessThanOrEquals", False),
    ):
        for kind, v, _dt, _l in _objects(spo, pshape, SH + param):
            if kind != "iri":
                raise ShaclUnsupported(f"non-IRI sh:{param} on {pshape}")
            pairs = vals.join(_other_values(v), "focus")
            vdt = F.coalesce("v_datatype", F.lit(""))
            num_ok = (
                vdt.isin(*NUMERIC_TYPES)
                & F.col("w_datatype").isin(*NUMERIC_TYPES)
                & F.col("v_value").try_cast("double").isNotNull()
                & F.col("w_value").try_cast("double").isNotNull()
            )

            def num(op):
                return _num_cmp(op, F.col("v_value"), vdt,
                                F.col("w_value"), F.col("w_datatype"))

            str_ok = (
                F.coalesce("v_datatype", F.lit("")).isin("", XSD_STRING)
                & (F.coalesce("v_lang", F.lit("")) == "")
                & F.col("w_datatype").isin("", XSD_STRING)
                & (F.col("w_lang") == "")
            )
            # the SPARQL "<" operator: numeric on numeric pairs, codepoint
            # string on plain-string pairs; anything else is a type error,
            # and a failed comparison is a violation (§4.3.3)
            lt = F.when(num_ok, num(operator.lt)).when(
                str_ok, F.col("v_value") < F.col("w_value")
            )
            eq = F.when(num_ok, num(operator.eq)).when(
                str_ok, F.col("v_value") == F.col("w_value")
            )
            ok = lt if strict else (lt | eq)
            both_lit = (F.col("v_kind") == "literal") & (
                F.col("w_kind") == "literal"
            )
            bad = pairs.where(~both_lit | ok.isNull() | ~ok)
            out.append(report(bad, comp, F.col("v_value")))

    if not out:
        return report(vals.where(F.lit(False)), "none")
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res
