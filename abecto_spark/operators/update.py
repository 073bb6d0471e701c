"""SPARQL 1.1 Update over a triples or quads DataFrame — the
graph-store mutation half of the query surface (W3C SPARQL 1.1 Update
§3).

The reference changes its models in place through the Jena Model API
(statement adds and removes) wherever a processor rewrites one, not
through ``UpdateAction``; here an update is a *pure function* on
the distributed relation — each operation compiles to anti-joins
(delete) and unions (insert) and the updated DataFrame is returned,
which is the shape a Spark pipeline wants (the store write is the
caller's sink, e.g. an Iceberg MERGE at deployment).

Supported operations, separated by ``;``:

  INSERT DATA { ground quads }          §3.1.1
  DELETE DATA { ground quads }          §3.1.2
  [WITH <g>] DELETE { tmpl } INSERT { tmpl } WHERE { pattern }  §3.1.3
  [WITH <g>] DELETE { tmpl } WHERE { pattern }
  [WITH <g>] INSERT { tmpl } WHERE { pattern }
  [WITH <g>] DELETE WHERE { pattern }   (pattern doubles as template)
  CLEAR [SILENT] GRAPH <g>|DEFAULT|NAMED|ALL            §3.1.4
  CREATE [SILENT] GRAPH <g>             §3.2.2 (no-op: empty graphs
                                        are not tracked in a relation)
  DROP [SILENT] GRAPH <g>|DEFAULT|NAMED|ALL             §3.2.3
  ADD|COPY|MOVE [SILENT] src TO dst     §3.2.5-7, src/dst ::=
                                        [GRAPH] <g> | DEFAULT

Quad forms require a relation carrying a ``graph`` column ('' or NULL
marks the default graph, the quad readers' convention); on a plain
triples relation any named-graph form raises ``SparqlUnsupported``.
Templates and DATA blocks may wrap triples in ``GRAPH <iri> { ... }``
(constant labels only); ``WITH <g>`` routes unwrapped template triples
to g AND scopes the WHERE pattern to g (so GRAPH blocks inside a WITH
WHERE are rejected — USING is the general dataset re-scoper and stays
outside the subset, loudly).  Without WITH, the WHERE pattern follows
the query engine's documented union-of-graphs default: plain patterns
match every row, GRAPH patterns scope to named graphs.

The WHERE pattern gets the full engine subset (BGP/OPTIONAL/FILTER/
UNION/paths/...).  Per §3.1.3 the delete and insert templates
instantiate against the SAME solution multiset, evaluated before
either mutation applies, and deletes apply before inserts.  Solutions
leaving a template variable unbound skip that triple (§3.1.3.2); a
template variable that can never be bound is loud.  LOAD and USING
are outside the subset and raise ``SparqlUnsupported``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sparql import (
    Group,
    Iri,
    Lit,
    SparqlUnsupported,
    Var,
    _Compiler,
    _Parser,
)
from ..model import XSD_STRING
from .rule_text import (
    TRIPLE_COLS,
    _denorm_triples,
    _head_rows,
    _norm_triples,
    mint_bnodes,
)

_TRIPLES_DDL = (
    "s string, p string, o_kind string, o_value string,"
    " o_datatype string, o_lang string"
)


@dataclass
class _InsertData:
    quads: list  # (graph_iri_str | None, Triple)


@dataclass
class _DeleteData:
    quads: list


@dataclass
class _Modify:
    delete: list  # (graph_iri_str | None, Triple)
    insert: list
    where: Group
    with_graph: str | None = None


@dataclass
class _Clear:
    target: str = "ALL"  # "DEFAULT" | "NAMED" | "ALL" | "GRAPH"
    graph: str | None = None


@dataclass
class _Create:
    pass


@dataclass
class _GraphCopy:
    kind: str  # "ADD" | "COPY" | "MOVE"
    src: str | None  # None = default graph
    dst: str | None


def _plain(g: Group, what: str) -> list:
    if (
        g.optionals or g.filters or g.binds or g.unions or g.minuses
        or g.not_exists or g.exists or g.values_blocks
        or g.path_closures or g.graph_blocks or g.subqueries
    ):
        raise SparqlUnsupported(f"{what} must be plain triples")
    return g.triples


def _quad_tmpl(g: Group, what: str) -> list:
    """A QuadPattern template: plain triples, optionally wrapped in
    constant-IRI GRAPH blocks → [(graph_label_or_None, Triple)]."""
    if (
        g.optionals or g.filters or g.binds or g.unions or g.minuses
        or g.not_exists or g.exists or g.values_blocks
        or g.path_closures or g.subqueries
    ):
        raise SparqlUnsupported(f"{what} must be plain triples")
    out = [(None, t) for t in g.triples]
    for gterm, inner in g.graph_blocks:
        if not isinstance(gterm, Iri):
            raise SparqlUnsupported(
                f"GRAPH label in {what} must be a constant IRI"
            )
        out.extend((gterm.value, t) for t in _plain(inner, what))
    return out


def _ground(quads: list, what: str) -> list:
    for _gt, tp in quads:
        for t in (tp.s, tp.p, tp.o):
            if isinstance(t, Var):
                raise SparqlUnsupported(
                    f"{what} requires ground triples (no variables or "
                    "blank nodes)"
                )
    return quads


def _graph_ref(p: _Parser, what: str, allow_sets: bool):
    """GRAPH <iri> | DEFAULT [| NAMED | ALL] → (target, label)."""
    if p.at_word("GRAPH"):
        p.next()
        t = p.parse_term("predicate")
        if not isinstance(t, Iri):
            raise SparqlUnsupported(f"{what}: GRAPH needs a constant IRI")
        return ("GRAPH", t.value)
    if p.at_word("DEFAULT"):
        p.next()
        return ("DEFAULT", None)
    if allow_sets and p.at_word("NAMED"):
        p.next()
        return ("NAMED", None)
    if allow_sets and p.at_word("ALL"):
        p.next()
        return ("ALL", None)
    # ADD/COPY/MOVE allow a bare IRI for the graph
    if not allow_sets and p.peek()[0] in ("iri", "pname"):
        t = p.parse_term("predicate")
        if isinstance(t, Iri):
            return ("GRAPH", t.value)
    raise SparqlUnsupported(f"{what}: expected GRAPH <iri> or DEFAULT")


def _parse_modify(p: _Parser, with_graph: str | None) -> _Modify:
    if p.at_word("INSERT"):
        p.next()
        tmpl = _quad_tmpl(p.parse_group(), "INSERT template")
        p.eat("WHERE")
        return _Modify([], tmpl, p.parse_group(), with_graph)
    p.next()  # DELETE
    if p.at_word("WHERE"):
        p.next()
        g = p.parse_group()
        return _Modify(
            _quad_tmpl(g, "DELETE WHERE"), [], g, with_graph
        )
    dt = _quad_tmpl(p.parse_group(), "DELETE template")
    ins: list = []
    if p.at_word("INSERT"):
        p.next()
        ins = _quad_tmpl(p.parse_group(), "INSERT template")
    if p.at_word("USING"):
        raise SparqlUnsupported(
            "USING is unsupported (WITH <g> scopes the WHERE pattern)"
        )
    p.eat("WHERE")
    return _Modify(dt, ins, p.parse_group(), with_graph)


def parse_update(text: str) -> list:
    """Parse an update request into its operation sequence."""
    p = _Parser(text)
    ops: list = []
    p.parse_prologue()
    while p.peek()[0] != "eof":
        if p.at_word("WITH"):
            p.next()
            wt = p.parse_term("predicate")
            if not isinstance(wt, Iri):
                raise SparqlUnsupported("WITH needs a constant IRI")
            if not p.at_word("DELETE", "INSERT"):
                raise SparqlUnsupported(
                    "WITH must be followed by DELETE/INSERT"
                )
            ops.append(_parse_modify(p, wt.value))
        elif p.at_word("INSERT"):
            p.next()
            if p.at_word("DATA"):
                p.next()
                ops.append(_InsertData(_ground(
                    _quad_tmpl(p.parse_group(), "INSERT DATA"),
                    "INSERT DATA",
                )))
            else:
                tmpl = _quad_tmpl(p.parse_group(), "INSERT template")
                p.eat("WHERE")
                ops.append(_Modify([], tmpl, p.parse_group()))
        elif p.at_word("DELETE"):
            p.next()
            if p.at_word("DATA"):
                p.next()
                ops.append(_DeleteData(_ground(
                    _quad_tmpl(p.parse_group(), "DELETE DATA"),
                    "DELETE DATA",
                )))
            elif p.at_word("WHERE"):
                p.next()
                g = p.parse_group()
                ops.append(_Modify(
                    _quad_tmpl(g, "DELETE WHERE"), [], g
                ))
            else:
                dt = _quad_tmpl(p.parse_group(), "DELETE template")
                ins: list = []
                if p.at_word("INSERT"):
                    p.next()
                    ins = _quad_tmpl(p.parse_group(), "INSERT template")
                if p.at_word("USING"):
                    raise SparqlUnsupported(
                        "USING is unsupported (WITH <g> scopes the "
                        "WHERE pattern)"
                    )
                p.eat("WHERE")
                ops.append(_Modify(dt, ins, p.parse_group()))
        elif p.at_word("CLEAR", "DROP"):
            p.next()
            if p.at_word("SILENT"):
                p.next()
            target, label = _graph_ref(p, "CLEAR/DROP", allow_sets=True)
            ops.append(_Clear(target, label))
        elif p.at_word("CREATE"):
            p.next()
            if p.at_word("SILENT"):
                p.next()
            _graph_ref(p, "CREATE", allow_sets=False)
            ops.append(_Create())
        elif p.at_word("ADD", "COPY", "MOVE"):
            kind = p.peek()[1].upper()
            p.next()
            if p.at_word("SILENT"):
                p.next()
            _st, src = _graph_ref(p, kind, allow_sets=False)
            p.eat("TO")
            _dt, dst = _graph_ref(p, kind, allow_sets=False)
            ops.append(_GraphCopy(kind, src, dst))
        elif p.at_word("USING", "LOAD"):
            raise SparqlUnsupported(
                f"unsupported update operation {p.peek()[1]!r}"
            )
        else:
            raise SparqlUnsupported(
                f"expected an update operation, got {p.peek()[1]!r}"
            )
        if p.peek()[1] == ";":
            p.next()
            p.parse_prologue()
        else:
            break
    if p.peek()[0] != "eof":
        raise SparqlUnsupported(
            f"trailing content after update: {p.peek()[1]!r}"
        )
    return ops


def _uses_graphs(ops: list) -> bool:
    for op in ops:
        if isinstance(op, (_Create, _GraphCopy)):
            return True
        if isinstance(op, _Clear) and op.target in ("GRAPH", "NAMED"):
            return True
        if isinstance(op, (_InsertData, _DeleteData)):
            if any(gt is not None for gt, _ in op.quads):
                return True
        if isinstance(op, _Modify):
            if op.with_graph is not None:
                return True
            if any(gt is not None for gt, _ in op.delete + op.insert):
                return True
            if _group_uses_graphs(op.where):
                return True
    return False


def _group_uses_graphs(g: Group) -> bool:
    """A GRAPH block anywhere in the pattern, nested groups included
    (OPTIONAL, UNION, MINUS, [NOT] EXISTS, paths, subqueries, SERVICE)."""
    if g.graph_blocks:
        return True
    nested = (
        g.optionals + g.minuses + g.not_exists + g.exists
        + [b for branches in g.unions for b in branches]
        + [pc[2] for pc in g.path_closures]
        + [sq.where for sq in g.subqueries]
        + [inner for _ep, _silent, inner in g.services]
    )
    return any(_group_uses_graphs(n) for n in nested)


def _const_rows(spark, quads: list, graph_mode: bool) -> DataFrame:
    rows = []
    for gt, tp in quads:
        if not isinstance(tp.p, Iri):
            raise SparqlUnsupported("ground predicate must be an IRI")
        if isinstance(tp.o, Iri):
            o = ("iri", tp.o.value, None, "")
        elif isinstance(tp.o, Lit):
            o = ("literal", tp.o.lex, tp.o.datatype, tp.o.lang)
        else:
            raise SparqlUnsupported("unsupported ground object term")
        rows.append((tp.s.value, tp.p.value) + o + (gt or "",))
    df = _norm_quads(spark.createDataFrame(
        rows, _TRIPLES_DDL + ", graph string"
    ))
    return df if graph_mode else df.drop("graph")


def _norm_quads(df: DataFrame) -> DataFrame:
    """The quad analog of rule_text's _norm_triples: '' (never NULL)
    for non-literal datatype/lang and for the default graph label."""
    return df.select(
        "s", "p", "o_kind", "o_value",
        F.when(
            F.col("o_kind") == "literal",
            F.coalesce("o_datatype", F.lit(XSD_STRING)),
        ).otherwise(F.lit("")).alias("o_datatype"),
        F.coalesce("o_lang", F.lit("")).alias("o_lang"),
        F.coalesce("graph", F.lit("")).alias("graph"),
    )


def _denorm_quads(df: DataFrame) -> DataFrame:
    return df.select(
        "s", "p", "o_kind", "o_value",
        F.when(F.col("o_kind") == "literal", F.col("o_datatype"))
        .alias("o_datatype"),
        "o_lang", "graph",
    )


def _tmpl_rows(match: DataFrame, bound: set, tmpl: list) -> DataFrame:
    """Instantiate a template against the solution multiset; solutions
    with an unbound template variable skip that triple (§3.1.3.2)."""
    outs = []
    for tp in tmpl:
        tvars = {
            t.name for t in (tp.s, tp.p, tp.o) if isinstance(t, Var)
        }
        missing = tvars - bound
        if missing:
            raise SparqlUnsupported(
                "template variable ?%s never bound in WHERE"
                % sorted(missing)[0]
            )
        m = match
        for v in sorted(tvars):
            m = m.where(F.col(v).isNotNull())
        outs.append(_head_rows(m, bound, [tp]))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def _quad_tmpl_rows(
    match: DataFrame, bound: set, tmpl: list, default_graph: str,
    graph_mode: bool,
) -> DataFrame:
    """Instantiate a quad template: triples grouped by their target
    graph, each group through the triple instantiator, the graph label
    appended as a constant column."""
    by_graph: dict[str, list] = {}
    for gt, tp in tmpl:
        by_graph.setdefault(gt if gt is not None else default_graph,
                            []).append(tp)
    outs = []
    for label in sorted(by_graph):
        rows = _tmpl_rows(match, bound, by_graph[label])
        if graph_mode:
            rows = rows.withColumn("graph", F.lit(label))
        outs.append(rows)
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def apply_update(triples: DataFrame, update_text: str) -> DataFrame:
    """Apply the update request to the triples/quads DataFrame and
    return the updated relation (public schema: o_datatype NULL for
    non-literals; the ``graph`` column is preserved when present).
    Operations run in sequence, each against the previous result, per
    the Update spec; the input DataFrame is not mutated."""
    spark = triples.sparkSession
    graph_mode = "graph" in triples.columns
    ops = parse_update(update_text)
    if not graph_mode and _uses_graphs(ops):
        raise SparqlUnsupported(
            "named-graph update over a relation without a graph column"
        )
    out_cols = list(triples.columns)

    if graph_mode:
        g = _norm_quads(triples)
        key_cols = list(TRIPLE_COLS) + ["graph"]
    else:
        g = _norm_triples(triples)
        key_cols = list(TRIPLE_COLS)
    g = g.distinct().localCheckpoint(eager=True)
    empty_ddl = _TRIPLES_DDL + (", graph string" if graph_mode else "")

    for op in ops:
        if isinstance(op, _Create):
            continue
        if isinstance(op, _Clear):
            if op.target == "ALL" or (not graph_mode):
                g = spark.createDataFrame([], empty_ddl)
            elif op.target == "DEFAULT":
                g = g.where(F.col("graph") != "")
            elif op.target == "NAMED":
                g = g.where(F.col("graph") == "")
            else:  # GRAPH <iri>
                g = g.where(F.col("graph") != op.graph)
        elif isinstance(op, _GraphCopy):
            src, dst = op.src or "", op.dst or ""
            if src == dst:
                continue  # §3.2.5-7: same-graph ADD/COPY/MOVE is a no-op
            moved = g.where(F.col("graph") == src).withColumn(
                "graph", F.lit(dst)
            )
            if op.kind == "ADD":
                g = g.unionByName(moved).distinct()
            else:  # COPY / MOVE overwrite the destination
                kept = g.where(F.col("graph") != dst)
                if op.kind == "MOVE":
                    kept = kept.where(F.col("graph") != src)
                g = kept.unionByName(moved)
        elif isinstance(op, _InsertData):
            g = g.unionByName(
                _const_rows(spark, op.quads, graph_mode)
            ).distinct()
        elif isinstance(op, _DeleteData):
            g = g.join(
                _const_rows(spark, op.quads, graph_mode), key_cols,
                "left_anti",
            )
        else:
            default_graph = op.with_graph or ""
            if op.with_graph is not None:
                if _group_uses_graphs(op.where):
                    raise SparqlUnsupported(
                        "GRAPH pattern inside a WITH-scoped WHERE"
                    )
                scope = g.where(F.col("graph") == op.with_graph)
            else:
                scope = g
            comp = _Compiler(scope)
            match, bound = comp.group_df(op.where)
            match = match.localCheckpoint(eager=True)
            if op.delete:
                for _gt, tp in op.delete:
                    for t in (tp.s, tp.p, tp.o):
                        if isinstance(t, Var) and t.name.startswith("__bn"):
                            raise SparqlUnsupported(
                                "blank node in a DELETE template (§3.1.3: "
                                "DeleteClause must not contain blank nodes)"
                            )
                dels = _quad_tmpl_rows(
                    match, bound, op.delete, default_graph, graph_mode
                ).distinct()
                g = g.join(dels, key_cols, "left_anti")
            if op.insert:
                # template blank nodes mint one fresh bnode per solution
                # (§3.1.3.2) — deterministic per (var, row bindings),
                # same convention as CONSTRUCT templates
                mint = sorted({
                    t.name
                    for _gt, tp in op.insert
                    for t in (tp.s, tp.p, tp.o)
                    if isinstance(t, Var) and t.name.startswith("__bn")
                    and t.name not in bound
                })
                imatch = mint_bnodes(match, bound, mint, "_:u", "ubn/")
                ibound = bound | set(mint)
                ins = _quad_tmpl_rows(
                    imatch, ibound, op.insert, default_graph, graph_mode
                )
                ins = (
                    _norm_quads(ins) if graph_mode else _norm_triples(ins)
                ).distinct()
                g = g.unionByName(ins).distinct()
        g = g.localCheckpoint(eager=True)
    pub = _denorm_quads(g) if graph_mode else _denorm_triples(g)
    return pub.select(*out_cols)
