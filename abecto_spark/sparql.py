"""Restricted SPARQL SELECT compiler over the triples DataFrame — the
aspect "defining query" layer of the reference (`Aspect.java:91-116`,
pattern execution `Aspect.java:209-235`), re-expressed as Catalyst joins.

The reference hands aspect patterns to Jena ARQ; this engine compiles the
subset those patterns actually use — basic graph patterns (with ``;`` /
``,`` abbreviations), OPTIONAL groups, FILTER expressions, BIND /
projection expressions (e.g. the ``(SHA256(?v) AS ?x)`` of
`EquivalentValueMappingProcessorTest.java:45-47`) — directly into a
DataFrame plan over the ``(s, p, o_kind, o_value, o_datatype, o_lang)``
triples table:

  * each triple pattern       → a filtered scan of the triples table
  * shared variables          → equi-joins on full RDF-term identity
  * OPTIONAL { ... }          → left outer join on the shared variables
  * FILTER(...)               → ``where`` on compiled columns
  * BIND(expr AS ?v)          → ``withColumn``

Every variable is carried as a 4-field struct ``(kind, value, datatype,
lang)`` (the tagged-union term of SURVEY.md §1.3) with datatype/lang
normalised to ``''`` when absent so struct equality is exact term
identity. Catalyst then prunes/pushes/reorders the joins — the per-row
SPARQL probes of the reference (`Aspect.java:145-149`) never exist here.

Additional algebra (round 3): UNION (``unionByName`` of branch plans,
allowMissingColumns for branch-local variables), MINUS and FILTER [NOT]
EXISTS (left-anti / left-semi joins on the shared variables), VALUES
inline data (literal DataFrame join), ``SELECT *``, and the solution
modifiers ORDER BY / LIMIT / OFFSET — preserved from aspect patterns
like the reference does (`ComparisonProcessor.java:57-75`).

Query forms: SELECT (``sparql_select``), CONSTRUCT (executed by
`operators/rule_text.py` on the fixpoint kernel), ASK (``sparql_ask`` —
one-row existence action on the compiled group plan), and DESCRIBE
(``sparql_describe`` — subject statements of each target IRI/binding
plus the blank-node-object closure, the concise-bounded-description
shape Jena serves the reference's crawler).

Comparison semantics: ``=`` / ``!=`` between two term operands compare
numerically when BOTH sides carry numeric datatypes at runtime
("01"^^xsd:integer = "1"^^xsd:integer) and by full term identity
otherwise (an IRI never equals a literal with the same lexical form);
``<``/``<=``/``>``/``>=`` are numeric when either side is statically
numeric and lexical otherwise (documented restriction). ORDER BY sorts
numerically for numeric-datatype terms, lexically otherwise.

Property paths (SPARQL 1.1 §9, round 3): ``/`` sequences, ``^`` inverse,
``|`` alternatives, grouping parens, and the arbitrary-length modifiers
``*`` / ``+`` / ``?``. Fixed-length algebra desugars at parse time
(sequence → fresh-var chain, inverse → swapped endpoints, alternative →
UNION branches); ``*``/``+`` compile to a semi-naive distributed
transitive closure over the one-step edge relation (delta-join per
round, bounded by ``PATH_CLOSURE_MAX_ITER``), with the zero-length case
matching every graph term to itself per the spec.

Aggregation (SPARQL 1.1 §11, round 3): GROUP BY (variables and
``(expr AS ?v)`` keys), HAVING, and COUNT / SUM / AVG / MIN / MAX /
SAMPLE / GROUP_CONCAT (with DISTINCT where Spark has a native
distinct-aggregate) — compiled to one ``groupBy`` over the key term
structs, so Catalyst plans map-side partial aggregation. Determinism
choices where the spec leaves order open: SAMPLE is the lexical
minimum, GROUP_CONCAT sorts its inputs.

Named graphs (round 4): ``GRAPH <iri> { ... }`` / ``GRAPH ?g { ... }``
over relations carrying a ``graph`` column (the quad readers) — a
constant label is a filter on the scan, a variable label an extra
binding on every inner triple pattern. Outer (non-GRAPH) patterns keep
matching every row — the engine's union-of-graphs default.

Round 4 also lifted six restrictions: ``UNDEF`` in VALUES (NULL struct
slots + compatible-join semantics downstream), EXISTS/NOT EXISTS blocks
sharing no variable with the outer pattern (a boolean gate — one eager
emptiness probe), ``DESCRIBE *``, §12 subqueries (``{ SELECT ... }``
compiled on the same graph scope and joined in by its projected
variables), negated property sets ``!(<a>|^<b>)`` (a NOT-IN predicate
filter per direction), ``AVG(DISTINCT)``, and ``SERVICE [SILENT]``
federation (plain-triples patterns serialized back to a SELECT and sent
through the crawl's HTTP transport; SILENT maps failure to the spec's
single empty solution).

Round 5 lifted the remaining structural corners: ground path probes
``<a> p* <b>`` (seeded frontier with early exit), spec-exact zero-length
paths, full group patterns and VALUES-bound variable endpoints in
SERVICE (incl. GRAPH, negated property sets, subqueries and nested
SERVICE serialized back to wire text — only desugared path closures
stay loud), repeated variables within one triple pattern (``?x p ?x`` — a
same-term filter on the scan), GRAPH labels reused inside their own
pattern, OPTIONAL as the first operand of a group (§18.5
LeftJoin(unit, P)), OPTIONAL sharing no variables (condition-true left
join), and ORDER BY / LIMIT / OFFSET on CONSTRUCT.

CONSTRUCT takes the full SolutionModifier: ORDER BY / LIMIT / OFFSET
slice the solution sequence, and GROUP BY / HAVING group it before the
template instantiates (template variables must be group keys —
CONSTRUCT has no AS, so aggregates can only gate groups via HAVING).
The §10.2.3 ``CONSTRUCT WHERE { BGP }`` shorthand is accepted with the
grammar's plain-triples restriction on the shared group.

The final round-5 breadth pass added the §4.2.1 blank-node node forms
(``[]``, ``[ p o ; ... ]``, ``_:label`` — all fresh non-projectable
variables), ``IN`` / ``NOT IN`` (desugared to the spec's ``=``-chain),
effective boolean value (§17.2.2) at every filter site, and the
expression-function batch ``IF COALESCE REPLACE STRBEFORE STRAFTER
ENCODE_FOR_URI isIRI/isURI/isBlank/isLiteral/isNumeric YEAR MONTH DAY
HOURS MINUTES SECONDS TZ TIMEZONE SHA1 SHA384`` plus the term
constructors ``IRI/URI STRDT STRLANG`` in BIND, ``( e1 e2 )`` collection nodes, blank-node-minting
CONSTRUCT templates, ``[NOT] EXISTS`` as an expression operand
(resolved to boolean marker columns via one distinct-keyed left join
per occurrence, so it composes with any boolean operator), and the
``xsd:`` constructor casts as functions by IRI (§17.5; cast errors
drop the row / leave the BIND unbound).

Unsupported syntax raises ``SparqlUnsupported`` — at this point that is
malformed queries (including path modifiers on a variable predicate,
which the SPARQL grammar itself rejects: property paths are built from
IRIs only).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .model import NUMERIC_TYPES, RDF_LANG_STRING, XSD, XSD_STRING
from .operators.rules import fixpoint

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDF_FIRST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
RDF_REST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
RDF_NIL = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"

#: XPath constructor casts usable as functions by IRI (§17.5)
_XSD_CASTS = (
    "integer", "decimal", "float", "double", "string", "boolean", "dateTime",
)


class SparqlUnsupported(ValueError):
    """Raised for SPARQL syntax outside the compiled subset."""


# ---------------------------------------------------------------------------
# AST


@dataclass(frozen=True)
class Var:
    name: str


@dataclass(frozen=True)
class Iri:
    value: str


@dataclass(frozen=True)
class Lit:
    lex: str
    datatype: str = XSD_STRING
    lang: str = ""


@dataclass(frozen=True)
class Triple:
    s: object
    p: object
    o: object


# property-path AST (SPARQL 1.1 §9) — desugared at parse time where the
# algebra allows (sequence → fresh-var chain, inverse → swapped triple,
# alternative → UNION branches); only arbitrary-length modifiers survive
# to the compiler as closure entries
@dataclass(frozen=True)
class PSeq:
    elts: tuple


@dataclass(frozen=True)
class PAlt:
    branches: tuple


@dataclass(frozen=True)
class PInv:
    inner: object


@dataclass(frozen=True)
class PMod:
    inner: object
    mod: str  # '*' | '+' | '?'


@dataclass(frozen=True)
class PNegSet:
    """Negated property set ``!(<a>|^<b>|...)`` (§9.1): one edge whose
    predicate is outside ``fwd`` (forward direction) unioned with one
    reversed edge whose predicate is outside ``inv`` — each direction
    only if it has members (per the SPARQL algebra translation)."""
    fwd: tuple  # forward-member IRIs
    inv: tuple  # inverse-member IRIs (those written with ^)
    has_fwd: bool  # at least one non-^ member was written
    has_inv: bool  # at least one ^ member was written


@dataclass(frozen=True)
class Call:
    fn: str
    args: tuple


@dataclass(frozen=True)
class Op:
    op: str
    left: object
    right: object = None  # None => unary


@dataclass
class ExistsExpr:
    """``[NOT] EXISTS { group }`` used inside a FILTER expression
    (§17.4.1.4; the bare statement forms ``FILTER [NOT] EXISTS {}`` have
    their own semi/anti-join fast path). Resolved to a boolean marker
    column before expression compilation."""

    group: object  # Group


@dataclass(frozen=True)
class _Marker:
    """Internal reference to a plain boolean column (an EXISTS marker
    joined onto the solution frame)."""

    name: str


@dataclass(frozen=True)
class Agg:
    """Aggregate function application (SPARQL 1.1 §11)."""

    fn: str  # COUNT SUM AVG MIN MAX SAMPLE GROUP_CONCAT
    arg: object  # expression; None for COUNT(*)
    distinct: bool = False
    sep: str = " "  # GROUP_CONCAT separator


@dataclass
class Group:
    triples: list = field(default_factory=list)
    optionals: list = field(default_factory=list)  # nested Groups
    filters: list = field(default_factory=list)  # exprs
    binds: list = field(default_factory=list)  # (expr, var_name)
    unions: list = field(default_factory=list)  # list[list[Group]] branches
    minuses: list = field(default_factory=list)  # nested Groups (MINUS)
    not_exists: list = field(default_factory=list)  # FILTER NOT EXISTS groups
    exists: list = field(default_factory=list)  # FILTER EXISTS groups
    values_blocks: list = field(default_factory=list)  # (var_names, rows)
    # arbitrary-length path entries: (s_term, a_var, inner Group, b_var,
    # mod, o_term) — inner Group binds a_var/b_var to the one-step edge
    path_closures: list = field(default_factory=list)
    graph_blocks: list = field(default_factory=list)  # (Var|Iri, Group)
    subqueries: list = field(default_factory=list)  # nested SelectQuery
    neg_triples: list = field(default_factory=list)  # (s, PNegSet, o)
    services: list = field(default_factory=list)  # (Iri, silent, Group)


@dataclass
class SelectQuery:
    projections: list  # list[(expr_or_Var, out_name)]; [] with star=True
    where: Group
    distinct: bool = False
    star: bool = False
    order: list = field(default_factory=list)  # [(expr, ascending)]
    limit: int | None = None
    offset: int | None = None
    group_by: list = field(default_factory=list)  # Var | (expr, name)
    having: list = field(default_factory=list)  # exprs (may contain Agg)


@dataclass
class ConstructQuery:
    template: list  # list[Triple]
    where: Group
    order: list = field(default_factory=list)  # [(expr, ascending)]
    limit: int | None = None
    offset: int | None = None
    group_by: list = field(default_factory=list)  # Var | (expr, name)
    having: list = field(default_factory=list)  # exprs (may contain Agg)


@dataclass
class AskQuery:
    where: Group


@dataclass
class DescribeQuery:
    targets: list  # list[Var | Iri]
    where: Group | None
    star: bool = False  # DESCRIBE * — every WHERE-bound variable


# ---------------------------------------------------------------------------
# tokenizer / parser

_TOKEN = re.compile(
    r"""
    \s+|\#[^\n]*                                   # whitespace / comment
  | (?P<iri><[^<>\s]*>)
  | (?P<var>[?$][A-Za-z_][A-Za-z0-9_]*)
  | (?P<str>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
  | (?P<num>(?:\d+\.\d+|\.\d+|\d+)(?:[eE][+-]?\d+)?)
  | (?P<langtag>@[A-Za-z][A-Za-z0-9-]*)
  | (?P<dtsep>\^\^)
  | (?P<op>&&|\|\||!=|<=|>=|[=<>!+\-*/(){};,.\[\]^|?])
  | (?P<pname>[A-Za-z_][A-Za-z0-9_.-]*?:(?:[A-Za-z0-9_](?:[A-Za-z0-9_.-]*[A-Za-z0-9_-])?)?)
  | (?P<word>[A-Za-z_][A-Za-z0-9_]*)
    """,
    re.VERBOSE,
)


def _tokenize(text: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if not m:
            raise SparqlUnsupported(f"cannot tokenize at: {text[pos:pos+30]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind:
            out.append((kind, m.group()))
    out.append(("eof", ""))
    return out


_AGG_FNS = ("COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT")


class _Parser:
    def __init__(self, text: str, now=None, entropy=None):
        self.toks = _tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.base: str | None = None
        self._fresh = 0  # counter for path-desugaring variables
        self._site = 0  # per-call-site counter for RAND/UUID/BNODE
        # query blank nodes act as non-projectable variables (§5.1.1);
        # same label = same variable, scoped to the whole query
        self._bnode_vars: dict[str, Var] = {}
        # §17.4.5.1: every NOW() in one query execution is the same
        # instant. The engine keeps its determinism contract by taking
        # that instant from the caller (a datetime or xsd:dateTime
        # lexical string) and substituting it as a constant at parse
        # time — one parse = one execution = one value, subqueries
        # included. Without an injected clock NOW() stays loud.
        if now is not None and not isinstance(now, str):
            now = now.isoformat()
        self.now: str | None = now
        # §17.4.5.2-4 / §17.4.2.9: RAND/UUID/STRUUID/BNODE are the
        # other nondeterministic builtins. Same contract as NOW(): the
        # caller injects an entropy seed; each call site gets a parse-
        # time index and the value is derived per solution as
        # xxhash64(seed, site, bound columns) — one seed = one
        # execution, replays are bit-identical. Without a seed they
        # stay loud.
        self.entropy: str | None = entropy

    def peek(self):
        return self.toks[self.i]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def eat(self, val: str):
        k, v = self.next()
        if v.upper() != val.upper():
            raise SparqlUnsupported(f"expected {val!r}, got {v!r}")

    def at_word(self, *words: str) -> bool:
        k, v = self.peek()
        return k in ("word", "pname") and v.upper() in words

    # -- query ----------------------------------------------------------

    def parse_prologue(self) -> None:
        while self.at_word("PREFIX", "BASE"):
            if self.at_word("BASE"):
                self.next()
                k, iri = self.next()
                if k != "iri":
                    raise SparqlUnsupported("bad BASE declaration")
                self.base = self._resolve(iri[1:-1])  # later BASEs chain
                continue
            self.next()
            k, pname = self.next()
            k2, iri = self.next()
            if not (pname.endswith(":") or k == "pname") or k2 != "iri":
                raise SparqlUnsupported("bad PREFIX declaration")
            self.prefixes[
                pname[:-1] if pname.endswith(":") else pname.split(":")[0]
            ] = self._resolve(iri[1:-1])

    _ABS_IRI = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")

    def _resolve(self, iri: str) -> str:
        """Resolve a (possibly relative) IRI against the BASE, if any —
        verbatim when no BASE is declared (bare-token graph IRIs are a
        long-standing engine convention)."""
        if self.base is None or self._ABS_IRI.match(iri):
            return iri
        from urllib.parse import urljoin

        return urljoin(self.base, iri)

    def parse_query(self) -> SelectQuery:
        self.parse_prologue()
        return self.parse_select_body()

    def parse_select_body(self) -> SelectQuery:
        """From the SELECT keyword onward — the shared shape of top-level
        queries and subqueries (SPARQL 1.1 §12 SubSelect)."""
        self.eat("SELECT")
        distinct = False
        if self.at_word("DISTINCT"):
            self.next()
            distinct = True
        if self.at_word("REDUCED"):
            self.next()
        projections = []
        star = False
        while True:
            k, v = self.peek()
            if k == "var":
                self.next()
                projections.append((Var(v[1:]), v[1:]))
            elif v == "(":
                self.next()
                expr = self.parse_expr()
                self.eat("AS")
                kv, vv = self.next()
                if kv != "var":
                    raise SparqlUnsupported("expected variable after AS")
                self.eat(")")
                projections.append((expr, vv[1:]))
            elif v == "*":
                self.next()
                star = True
            else:
                break
        if self.at_word("WHERE"):
            self.next()
        group = self.parse_group()
        q = SelectQuery(projections, group, distinct, star=star)
        self.parse_group_having(q)
        self.parse_solution_modifiers(q)
        if not projections and not star:
            raise SparqlUnsupported("empty projection")
        return q

    def parse_group_having(self, q) -> None:
        """GROUP BY / HAVING clauses into ``q.group_by`` / ``q.having``
        — shared by SELECT bodies and CONSTRUCT solution modifiers
        (the SPARQL 1.1 grammar gives both the same SolutionModifier)."""
        if self.at_word("GROUP"):
            self.next()
            self.eat("BY")
            while True:
                k, v = self.peek()
                if k == "var":
                    self.next()
                    q.group_by.append(Var(v[1:]))
                elif v == "(":
                    self.next()
                    e = self.parse_expr()
                    self.eat("AS")
                    kv, vv = self.next()
                    if kv != "var":
                        raise SparqlUnsupported("expected variable after AS")
                    self.eat(")")
                    q.group_by.append((e, vv[1:]))
                else:
                    break
            if not q.group_by:
                raise SparqlUnsupported("empty GROUP BY")
        if self.at_word("HAVING"):
            self.next()
            while self.peek()[1] == "(":
                q.having.append(self.parse_expr())
            if not q.having:
                raise SparqlUnsupported("empty HAVING")

    def parse_solution_modifiers(self, q: SelectQuery) -> None:
        """ORDER BY / LIMIT / OFFSET / trailing VALUES — preserved from
        aspect patterns like the reference (`ComparisonProcessor.java:57-75`)."""
        while True:
            if self.at_word("ORDER"):
                self.next()
                self.eat("BY")
                while True:
                    k, v = self.peek()
                    asc = True
                    if self.at_word("ASC", "DESC"):
                        asc = v.upper() == "ASC"
                        self.next()
                        self.eat("(")
                        expr = self.parse_expr()
                        self.eat(")")
                    elif k == "var":
                        self.next()
                        expr = Var(v[1:])
                    elif v == "(":
                        self.next()
                        expr = self.parse_expr()
                        self.eat(")")
                    else:
                        break
                    q.order.append((expr, asc))
                if not q.order:
                    raise SparqlUnsupported("empty ORDER BY")
            elif self.at_word("LIMIT"):
                self.next()
                k, v = self.next()
                if k != "num" or not v.isdigit():
                    raise SparqlUnsupported("LIMIT needs an integer")
                q.limit = int(v)
            elif self.at_word("OFFSET"):
                self.next()
                k, v = self.next()
                if k != "num" or not v.isdigit():
                    raise SparqlUnsupported("OFFSET needs an integer")
                q.offset = int(v)
            elif self.at_word("VALUES"):
                self.next()
                q.where.values_blocks.append(self.parse_values_body())
            else:
                return

    def parse_values_body(self) -> tuple:
        """After the VALUES keyword: `?x { t ... }` or
        `(?x ?y) { (t t) ... }` → (var_names, rows of term tuples)."""
        k, v = self.peek()
        if k == "var":
            self.next()
            names = [v[1:]]
            self.eat("{")
            rows = []
            while self.peek()[1] != "}":
                rows.append((self.parse_values_term(),))
            self.eat("}")
            return names, rows
        self.eat("(")
        names = []
        while self.peek()[0] == "var":
            names.append(self.next()[1][1:])
        self.eat(")")
        if not names:
            raise SparqlUnsupported("VALUES with no variables")
        self.eat("{")
        rows = []
        while self.peek()[1] != "}":
            self.eat("(")
            row = tuple(self.parse_values_term() for _ in names)
            self.eat(")")
            rows.append(row)
        self.eat("}")
        return names, rows

    def parse_values_term(self):
        if self.at_word("UNDEF"):
            self.next()
            return None  # unbound slot — compatible with any binding
        return self.parse_term(position="object")

    def parse_construct(self) -> ConstructQuery:
        self.parse_prologue()
        self.eat("CONSTRUCT")
        if self.at_word("WHERE"):
            # §10.2.3 CONSTRUCT WHERE shorthand: the WHERE group doubles
            # as the template, and the grammar restricts it to a plain
            # BGP (no FILTER/OPTIONAL/paths/...) — the same restriction
            # the template check below enforces
            self.next()
            template = self.parse_group()
            if (
                template.optionals or template.filters or template.binds
                or template.unions or template.minuses
                or template.not_exists or template.exists
                or template.values_blocks or template.path_closures
                or template.graph_blocks or template.subqueries
            ):
                raise SparqlUnsupported(
                    "CONSTRUCT WHERE shorthand allows only plain triples"
                )
            mods = SelectQuery([], template)
            self.parse_group_having(mods)
            self.parse_solution_modifiers(mods)
            return ConstructQuery(
                template.triples, template, mods.order, mods.limit,
                mods.offset, mods.group_by, mods.having,
            )
        template = self.parse_group()
        if (
            template.optionals or template.filters or template.binds
            or template.unions or template.minuses or template.not_exists
            or template.exists or template.values_blocks
            or template.path_closures or template.graph_blocks
            or template.subqueries
        ):
            raise SparqlUnsupported("CONSTRUCT template must be plain triples")
        if self.at_word("WHERE"):
            self.next()
        where = self.parse_group()
        # GROUP BY / HAVING / ORDER BY / LIMIT / OFFSET slice and group
        # the solution sequence before template instantiation (SPARQL
        # 1.1 grammar: ConstructQuery's SolutionModifier); trailing
        # VALUES joins into the WHERE group
        mods = SelectQuery([], where)
        self.parse_group_having(mods)
        self.parse_solution_modifiers(mods)
        return ConstructQuery(
            template.triples, where, mods.order, mods.limit, mods.offset,
            mods.group_by, mods.having,
        )

    def parse_ask(self) -> AskQuery:
        self.parse_prologue()
        self.eat("ASK")
        if self.at_word("WHERE"):
            self.next()
        return AskQuery(self.parse_group())

    def parse_describe(self) -> DescribeQuery:
        self.parse_prologue()
        self.eat("DESCRIBE")
        targets: list = []
        star = False
        if self.peek()[1] == "*":
            self.next()
            star = True
        else:
            while True:
                k, _v = self.peek()
                if k in ("var", "iri", "pname"):
                    targets.append(self.parse_term(position="subject"))
                else:
                    break
        if not targets and not star:
            raise SparqlUnsupported("DESCRIBE needs >=1 variable or IRI, or *")
        where = None
        if self.at_word("WHERE") or self.peek()[1] == "{":
            if self.at_word("WHERE"):
                self.next()
            where = self.parse_group()
        if star and where is None:
            raise SparqlUnsupported("DESCRIBE * needs a WHERE group")
        return DescribeQuery(targets, where, star)

    # -- group ----------------------------------------------------------

    def parse_group(self) -> Group:
        self.eat("{")
        g = Group()
        while True:
            k, v = self.peek()
            if v == "}":
                self.next()
                return g
            if self.at_word("OPTIONAL"):
                self.next()
                g.optionals.append(self.parse_group())
            elif self.at_word("MINUS"):
                self.next()
                g.minuses.append(self.parse_group())
            elif self.at_word("VALUES"):
                self.next()
                g.values_blocks.append(self.parse_values_body())
            elif self.at_word("FILTER"):
                self.next()
                if self.at_word("NOT"):
                    self.next()
                    self.eat("EXISTS")
                    g.not_exists.append(self.parse_group())
                elif self.at_word("EXISTS"):
                    self.next()
                    g.exists.append(self.parse_group())
                else:
                    k2, v2 = self.peek()
                    if v2 == "(":
                        self.next()
                        g.filters.append(self.parse_expr())
                        self.eat(")")
                    else:  # FILTER langMatches(...) — bare function call form
                        g.filters.append(self.parse_expr())
            elif self.at_word("BIND"):
                self.next()
                self.eat("(")
                expr = self.parse_expr()
                self.eat("AS")
                kv, vv = self.next()
                if kv != "var":
                    raise SparqlUnsupported("expected variable after AS")
                self.eat(")")
                g.binds.append((expr, vv[1:]))
            elif self.at_word("GRAPH"):
                self.next()
                gterm = self.parse_term(position="subject")
                if not isinstance(gterm, (Var, Iri)):
                    raise SparqlUnsupported(
                        "GRAPH label must be an IRI or variable"
                    )
                g.graph_blocks.append((gterm, self.parse_group()))
            elif self.at_word("SERVICE"):
                self.next()
                silent = False
                if self.at_word("SILENT"):
                    self.next()
                    silent = True
                endpoint = self.parse_term(position="subject")
                if not isinstance(endpoint, (Iri, Var)):
                    raise SparqlUnsupported(
                        "SERVICE endpoint must be an IRI or a variable"
                    )
                g.services.append((endpoint, silent, self.parse_group()))
            elif v == "{":
                k2, v2 = self.toks[self.i + 1]
                if k2 in ("word", "pname") and v2.upper() == "SELECT":
                    # subquery (SPARQL 1.1 §12): evaluated on the same
                    # graph scope, joined in by its projected variables
                    self.next()  # '{'
                    g.subqueries.append(self.parse_select_body())
                    self.eat("}")
                    continue
                # nested group; `{ A } UNION { B } [UNION { C }]` branches
                branches = [self.parse_group()]
                while self.at_word("UNION"):
                    self.next()
                    branches.append(self.parse_group())
                g.unions.append(branches)
            elif v == ".":
                self.next()
            else:
                self.parse_triples_block(g)
        return g

    def parse_triples_block(self, g: Group) -> None:
        bracket = self.peek()[1] == "["
        s = self.parse_term_node(g, position="subject")
        # `[ p o ] .` — a bracketed subject may stand alone (§4.2.1)
        if not (bracket and self.peek()[1] in (".", "}")):
            self.parse_po_list(g, s)
        if self.peek()[1] == ".":
            self.next()

    def parse_po_list(self, g: Group, s, closer: str = "") -> None:
        """predicate-object list ``p1 o1, o2 ; p2 o3 ...`` for subject
        ``s`` — shared by top-level triple blocks and bracketed blank
        node property lists (``closer = ']'``)."""
        while True:
            path = self.parse_path()
            while True:
                o = self.parse_term_node(g, position="object")
                self.desugar_path(g, s, path, o)
                if self.peek()[1] == ",":
                    self.next()
                    continue
                break
            if self.peek()[1] == ";":
                self.next()
                if self.peek()[1] in (".", "}", closer or "}"):  # trailing ;
                    break
                continue
            break

    def parse_term_node(self, g: Group, position: str):
        """A term in a triple pattern, including the blank-node node
        forms (§4.2.1): ``[]`` is a fresh non-projectable variable,
        ``[ p o ; ... ]`` additionally contributes its property list as
        triples of the enclosing group."""
        if self.peek()[1] == "[" and position in ("subject", "object"):
            self.next()
            v = self.fresh_var("bn")
            if self.peek()[1] == "]":
                self.next()
                return v
            self.parse_po_list(g, v, closer="]")
            self.eat("]")
            return v
        if self.peek()[1] == "(" and position in ("subject", "object"):
            # collection ``( e1 e2 ... )`` (§4.2.2): rdf:first/rdf:rest
            # chain through fresh non-projectable variables; ``()`` is
            # rdf:nil
            self.next()
            items = []
            while self.peek()[1] != ")":
                items.append(self.parse_term_node(g, position="object"))
            self.next()  # ')'
            if not items:
                return Iri(RDF_NIL)
            head = self.fresh_var("bn")
            node = head
            for i, it in enumerate(items):
                g.triples.append(Triple(node, Iri(RDF_FIRST), it))
                rest = (
                    Iri(RDF_NIL) if i == len(items) - 1
                    else self.fresh_var("bn")
                )
                g.triples.append(Triple(node, Iri(RDF_REST), rest))
                node = rest
            return head
        return self.parse_term(position=position)

    # -- property paths (SPARQL 1.1 §9) ---------------------------------

    def parse_path(self):
        """PathAlternative ::= PathSequence ('|' PathSequence)*"""
        branches = [self.parse_path_seq()]
        while self.peek()[1] == "|":
            self.next()
            branches.append(self.parse_path_seq())
        return branches[0] if len(branches) == 1 else PAlt(tuple(branches))

    def parse_path_seq(self):
        elts = [self.parse_path_elt()]
        while self.peek()[1] == "/":
            self.next()
            elts.append(self.parse_path_elt())
        return elts[0] if len(elts) == 1 else PSeq(tuple(elts))

    def parse_path_elt(self):
        inv = False
        if self.peek()[1] == "^":
            self.next()
            inv = True
        if self.peek()[1] == "(":
            self.next()
            p = self.parse_path()
            self.eat(")")
        elif self.peek()[1] == "!":
            self.next()
            p = self.parse_neg_set()
        else:
            p = self.parse_term(position="predicate")
        if self.peek()[1] in ("*", "+", "?"):
            mod = self.next()[1]
            if isinstance(p, Var):
                raise SparqlUnsupported("path modifier on a variable predicate")
            p = PMod(p, mod)
        return PInv(p) if inv else p

    def parse_neg_set(self) -> PNegSet:
        """After '!': ``iri`` | ``^iri`` | ``( member ('|' member)* )``."""
        fwd: list[str] = []
        inv: list[str] = []

        def member():
            target = fwd
            if self.peek()[1] == "^":
                self.next()
                target = inv
            t = self.parse_term(position="predicate")
            if not isinstance(t, Iri):
                raise SparqlUnsupported(
                    "negated property set members must be IRIs"
                )
            target.append(t.value)

        if self.peek()[1] == "(":
            self.next()
            if self.peek()[1] == ")":
                raise SparqlUnsupported("empty negated property set")
            member()
            while self.peek()[1] == "|":
                self.next()
                member()
            self.eat(")")
        else:
            member()
        return PNegSet(tuple(fwd), tuple(inv), bool(fwd), bool(inv))

    def fresh_var(self, stem: str = "p") -> Var:
        self._fresh += 1
        return Var(f"__{stem}{self._fresh}")

    def desugar_path(self, g: Group, s, path, o) -> None:
        """Rewrite ``s path o`` into the Group algebra: sequences chain
        through fresh variables, inverses swap endpoints, alternatives
        become UNION branches; arbitrary-length modifiers are kept as
        closure entries whose one-step edge is itself a desugared Group
        (so nested paths like ``(p/^q)+`` compose)."""
        if isinstance(path, (Iri, Var)):
            g.triples.append(Triple(s, path, o))
        elif isinstance(path, PInv):
            self.desugar_path(g, o, path.inner, s)
        elif isinstance(path, PSeq):
            node = s
            for elt in path.elts[:-1]:
                mid = self.fresh_var()
                self.desugar_path(g, node, elt, mid)
                node = mid
            self.desugar_path(g, node, path.elts[-1], o)
        elif isinstance(path, PAlt):
            branches = []
            for b in path.branches:
                bg = Group()
                self.desugar_path(bg, s, b, o)
                branches.append(bg)
            g.unions.append(branches)
        elif isinstance(path, PMod):
            a, b = self.fresh_var("pa"), self.fresh_var("pb")
            inner = Group()
            self.desugar_path(inner, a, path.inner, b)
            # the original PMod AST rides along (entry[6]) so SERVICE
            # federation can re-serialize the path it desugared
            g.path_closures.append((s, a.name, inner, b.name, path.mod, o, path))
        elif isinstance(path, PNegSet):
            g.neg_triples.append((s, path, o))
        else:  # pragma: no cover
            raise SparqlUnsupported(f"bad path {path!r}")

    def parse_term(self, position: str):
        k, v = self.next()
        if position == "object" and v in ("-", "+") and self.peek()[0] == "num":
            # signed numeric literal: the tokenizer leaves the sign to the
            # parser so `STRLEN(?x)-1` parses as a binary minus
            sign = "" if v == "+" else "-"
            k, v = self.next()
            v = sign + v
        if k == "var":
            return Var(v[1:])
        if k == "iri":
            return Iri(self._resolve(v[1:-1]))
        if k == "pname":
            pfx, local = v.split(":", 1)
            if pfx == "_":
                # query blank node label (§5.1.1): a non-projectable
                # variable, one per label across the query
                if position == "predicate":
                    raise SparqlUnsupported("blank node as predicate")
                if v not in self._bnode_vars:
                    self._bnode_vars[v] = self.fresh_var("bn")
                return self._bnode_vars[v]
            if pfx not in self.prefixes:
                raise SparqlUnsupported(f"undeclared prefix {pfx!r}")
            return Iri(self.prefixes[pfx] + local)
        if k == "word" and v == "a" and position == "predicate":
            return Iri(RDF_TYPE)
        if position != "object":
            raise SparqlUnsupported(f"bad {position} term {v!r}")
        if k == "str":
            lex = _unquote(v)
            nk, nv = self.peek()
            if nk == "langtag":
                self.next()
                return Lit(lex, RDF_LANG_STRING, nv[1:].lower())
            if nk == "dtsep":
                self.next()
                dt = self.parse_term(position="predicate")  # IRI expected
                if not isinstance(dt, Iri):
                    raise SparqlUnsupported("bad datatype IRI")
                return Lit(lex, dt.value)
            return Lit(lex)
        if k == "num":
            if re.fullmatch(r"[+-]?\d+", v):
                return Lit(v, XSD + "integer")
            if "e" in v.lower():
                return Lit(v, XSD + "double")
            return Lit(v, XSD + "decimal")
        if k == "word" and v in ("true", "false"):
            return Lit(v, XSD + "boolean")
        raise SparqlUnsupported(f"bad object term {v!r}")

    # -- expressions (precedence climbing) ------------------------------

    def parse_expr(self):
        return self.parse_or()

    def parse_or(self):
        left = self.parse_and()
        while self.peek()[1] == "||":
            self.next()
            left = Op("||", left, self.parse_and())
        return left

    def parse_and(self):
        left = self.parse_cmp()
        while self.peek()[1] == "&&":
            self.next()
            left = Op("&&", left, self.parse_cmp())
        return left

    def parse_cmp(self):
        left = self.parse_add()
        if self.peek()[1] in ("=", "!=", "<", "<=", ">", ">="):
            op = self.next()[1]
            return Op(op, left, self.parse_add())
        negated = False
        if self.at_word("NOT"):
            self.next()
            self.eat("IN")
            negated = True
        elif self.at_word("IN"):
            self.next()
        else:
            return left
        # §17.4.1.9: `e IN (a, b)` ≡ `e = a || e = b`; empty list = false
        self.eat("(")
        items = []
        if self.peek()[1] != ")":
            items.append(self.parse_expr())
            while self.peek()[1] == ",":
                self.next()
                items.append(self.parse_expr())
        self.eat(")")
        if not items:
            lit = Lit("false" if not negated else "true", XSD + "boolean")
            return lit
        out = None
        for it in items:
            eq = Op("=", left, it)
            out = eq if out is None else Op("||", out, eq)
        return Op("!", out) if negated else out

    def parse_add(self):
        left = self.parse_mul()
        while self.peek()[1] in ("+", "-"):
            op = self.next()[1]
            left = Op(op, left, self.parse_mul())
        return left

    def parse_mul(self):
        left = self.parse_unary()
        while self.peek()[1] in ("*", "/"):
            op = self.next()[1]
            left = Op(op, left, self.parse_unary())
        return left

    def parse_unary(self):
        k, v = self.peek()
        if v == "!":
            self.next()
            return Op("!", self.parse_unary())
        if v == "-":
            self.next()
            return Op("neg", self.parse_unary())
        return self.parse_primary()

    def parse_primary(self):
        k, v = self.peek()
        if v == "(":
            self.next()
            e = self.parse_expr()
            self.eat(")")
            return e
        if k == "var":
            self.next()
            return Var(v[1:])
        if k in ("str", "num") or (k == "word" and v in ("true", "false")):
            return self.parse_term(position="object")
        if k == "iri" or k == "pname":
            if self.toks[self.i + 1][1] == "(":
                # function by IRI — the XSD constructor casts (§17.5)
                fn = self.parse_term(position="subject")
                if not isinstance(fn, Iri) or not fn.value.startswith(XSD):
                    raise SparqlUnsupported(
                        f"function by IRI {fn!r} not supported (only the"
                        " xsd: constructor casts)"
                    )
                if fn.value[len(XSD):] not in _XSD_CASTS:
                    raise SparqlUnsupported(
                        f"unsupported xsd constructor {fn.value!r}"
                    )
                self.eat("(")
                arg = self.parse_expr()
                self.eat(")")
                return Call(fn.value, (arg,))
            # a constant IRI
            return self.parse_term(position="subject")
        if k == "word" and v.upper() in _AGG_FNS:
            return self.parse_aggregate(v.upper())
        if k == "word" and v.upper() == "EXISTS":
            self.next()
            return ExistsExpr(self.parse_group())
        if k == "word" and v.upper() == "NOT":
            self.next()
            self.eat("EXISTS")
            return Op("!", ExistsExpr(self.parse_group()))
        if k == "word":
            self.next()
            self.eat("(")
            args = []
            if self.peek()[1] != ")":
                args.append(self.parse_expr())
                while self.peek()[1] == ",":
                    self.next()
                    args.append(self.parse_expr())
            self.eat(")")
            if v.upper() == "NOW":
                if args:
                    raise SparqlUnsupported("NOW takes no arguments")
                if self.now is None:
                    raise SparqlUnsupported(
                        "NOW() needs an injected query-execution instant"
                        " (pass now=... to the query entry point) — an"
                        " ambient clock would break the engine's"
                        " deterministic-replay contract"
                    )
                return Lit(self.now, XSD + "dateTime")
            if v.upper() in ("RAND", "UUID", "STRUUID", "BNODE"):
                fn = v.upper()
                if fn != "BNODE" and args:
                    raise SparqlUnsupported(f"{fn} takes no arguments")
                if fn == "BNODE" and len(args) > 1:
                    raise SparqlUnsupported("BNODE takes at most 1 argument")
                if self.entropy is None:
                    raise SparqlUnsupported(
                        f"{fn}() needs an injected entropy seed (pass"
                        " entropy=... to the query entry point) — ambient"
                        " randomness would break the engine's"
                        " deterministic-replay contract"
                    )
                site = self._site
                self._site += 1
                hidden = (Lit(self.entropy), Lit(str(site), XSD + "integer"))
                return Call(fn, tuple(args) + hidden)
            return Call(v.upper(), tuple(args))
        raise SparqlUnsupported(f"bad expression at {v!r}")

    def parse_aggregate(self, fn: str) -> Agg:
        self.next()
        self.eat("(")
        distinct = False
        if self.at_word("DISTINCT"):
            self.next()
            distinct = True
        if fn == "COUNT" and self.peek()[1] == "*":
            self.next()
            arg = None
        else:
            arg = self.parse_expr()
        sep = " "
        if fn == "GROUP_CONCAT" and self.peek()[1] == ";":
            self.next()
            self.eat("SEPARATOR")
            self.eat("=")
            k, v = self.next()
            if k != "str":
                raise SparqlUnsupported("GROUP_CONCAT separator must be a string")
            sep = _unquote(v)
        self.eat(")")
        return Agg(fn, arg, distinct, sep)


def _unquote(v: str) -> str:
    body = v[1:-1]
    return (
        body.replace("\\\\", "\x00")
        .replace('\\"', '"')
        .replace("\\'", "'")
        .replace("\\n", "\n")
        .replace("\\r", "\r")
        .replace("\\t", "\t")
        .replace("\x00", "\\")
    )


def parse_select(text: str, now=None, entropy=None) -> SelectQuery:
    return _Parser(text, now=now, entropy=entropy).parse_query()


def parse_construct(text: str, now=None, entropy=None) -> ConstructQuery:
    return _Parser(text, now=now, entropy=entropy).parse_construct()


def _group_var_order(g: Group) -> list[str]:
    """Variables of a group in (approximate) first-appearance order —
    the ``SELECT *`` projection and star covered-variables list."""
    seen: set[str] = set()
    out: list[str] = []

    def add(name: str) -> None:
        if name not in seen:
            seen.add(name)
            out.append(name)

    def walk(gr: Group) -> None:
        for tp in gr.triples:
            for t in (tp.s, tp.p, tp.o):
                if isinstance(t, Var):
                    add(t.name)
        for branches in gr.unions:
            for b in branches:
                walk(b)
        for names, _rows in gr.values_blocks:
            for n in names:
                add(n)
        for _e, n in gr.binds:
            add(n)
        for entry in gr.path_closures:
            for t in (entry[0], entry[5]):
                if isinstance(t, Var):
                    add(t.name)
        for s_term, _nps, o_term in gr.neg_triples:
            for t in (s_term, o_term):
                if isinstance(t, Var):
                    add(t.name)
        for gterm, inner in gr.graph_blocks:
            if isinstance(gterm, Var):
                add(gterm.name)
            walk(inner)
        for sub in gr.subqueries:
            # §12: only the subquery's projected variables are in scope
            if sub.star:
                for n in _group_var_order(sub.where):
                    add(n)
            for _e, n in sub.projections:
                add(n)
        for endpoint, _silent, inner in gr.services:
            if isinstance(endpoint, Var):
                add(endpoint.name)
            walk(inner)
        for opt in gr.optionals:
            walk(opt)

    walk(g)
    return out


def pattern_vars(text: str) -> list[str]:
    """The pattern's result variables = the aspect's covered variables
    (`Aspect.java:347-355`); for ``SELECT *`` the in-scope variables."""
    q = parse_select(text)
    if q.star:
        return [
            n for n in _group_var_order(q.where) if not n.startswith("__")
        ] + [name for _, name in q.projections]
    return [name for _, name in q.projections]


def var_paths(text: str, key_var: str) -> dict[str, str]:
    """Property path from the key variable to each reachable projected
    variable — the reports metadata of the reference's
    `VarPathsExtractionVisitor.java:35-209` (BFS over triple patterns
    with forward and inverse hops), rendered in SPARQL path syntax
    (``<p>``, ``^<p>``, joined with ``/``). Variables bound only through
    variable predicates or expressions get no entry."""
    from collections import deque

    q = parse_select(text)

    def triples_of(g: Group):
        out = list(g.triples)
        for opt in g.optionals:
            out.extend(triples_of(opt))
        return out

    hops: dict[str, list[tuple[str, str]]] = {}
    for tp in triples_of(q.where):
        if not isinstance(tp.p, Iri):
            continue
        if isinstance(tp.s, Var) and isinstance(tp.o, Var):
            hops.setdefault(tp.s.name, []).append((f"<{tp.p.value}>", tp.o.name))
            hops.setdefault(tp.o.name, []).append((f"^<{tp.p.value}>", tp.s.name))

    paths: dict[str, str] = {}
    seen = {key_var}
    frontier = deque([(key_var, "")])
    while frontier:
        node, path = frontier.popleft()
        for label, nxt in hops.get(node, []):
            if nxt in seen:
                continue
            seen.add(nxt)
            np = f"{path}/{label}" if path else label
            paths[nxt] = np
            frontier.append((nxt, np))
    projected = {name for _, name in q.projections}
    return {v: p for v, p in paths.items() if v in projected}


# ---------------------------------------------------------------------------
# compiler

_TERM_FIELDS = ("kind", "value", "datatype", "lang")

# fixpoint-round bound for arbitrary-length property paths (p* / p+):
# with path doubling each round, 30 rounds cover closure diameter 2^30
PATH_CLOSURE_MAX_ITER = 30
#: linear bound for constant-seeded closures (total depth from the
#: seed, not log2(diameter)); exceeding it raises rather than truncates
PATH_SEEDED_MAX_ITER = 256
#: chained frontier joins per driver round in the seeded closure — the
#: per-round fixed cost (job + checkpoint) dominates on deep/thin
#: graphs, so each job covers this many depths
PATH_SEEDED_STEPS_PER_ROUND = 4


def _term_struct(kind, value, datatype, lang) -> Column:
    return F.struct(
        kind.alias("kind"),
        value.alias("value"),
        F.coalesce(datatype, F.lit("")).alias("datatype"),
        F.coalesce(lang, F.lit("")).alias("lang"),
    )


def _subject_struct(col: Column) -> Column:
    kind = F.when(col.startswith("_:"), F.lit("bnode")).otherwise(F.lit("iri"))
    return _term_struct(kind, col, F.lit(""), F.lit(""))


def _const_struct(term) -> Column:
    if isinstance(term, Iri):
        return _term_struct(F.lit("iri"), F.lit(term.value), F.lit(""), F.lit(""))
    return _term_struct(
        F.lit("literal"), F.lit(term.lex), F.lit(term.datatype), F.lit(term.lang)
    )


class _Compiler:
    """Compile one Group into a DataFrame with a struct column per var."""

    def __init__(self, triples: DataFrame, graph_var: str | None = None):
        # normalized term fields so struct equality is term identity; an
        # optional graph column (quad readers) rides along for GRAPH
        # patterns — outer (non-GRAPH) patterns still match every row,
        # the engine's long-standing union-of-graphs default
        cols = [
            F.col("s"),
            F.col("p"),
            F.col("o_kind"),
            F.col("o_value"),
            F.coalesce(F.col("o_datatype"), F.lit("")).alias("o_datatype"),
            F.coalesce(F.col("o_lang"), F.lit("")).alias("o_lang"),
        ]
        if "graph" in triples.columns:
            cols.append(F.col("graph"))
        self.t = triples.select(*cols)
        self.graph_var = graph_var

    def triple_df(self, tp: Triple) -> tuple[DataFrame, set[str]]:
        df = self.t
        cols: dict[str, Column] = {}
        # subject
        if isinstance(tp.s, Var):
            cols[tp.s.name] = _subject_struct(F.col("s"))
        elif isinstance(tp.s, Iri):
            df = df.where(F.col("s") == tp.s.value)
        else:
            raise SparqlUnsupported("literal subject")
        # predicate
        if isinstance(tp.p, Var):
            p_struct = _term_struct(F.lit("iri"), F.col("p"), F.lit(""), F.lit(""))
            if tp.p.name in cols:
                # repeated variable (?x ?x ?o): both positions must hold
                # the same term — a filter on the scan, no extra join
                df = df.where(cols[tp.p.name] == p_struct)
            else:
                cols[tp.p.name] = p_struct
        else:
            df = df.where(F.col("p") == tp.p.value)
        # object
        if isinstance(tp.o, Var):
            o_struct = _term_struct(
                F.col("o_kind"), F.col("o_value"), F.col("o_datatype"), F.col("o_lang")
            )
            if tp.o.name in cols:
                # repeated variable (?x ?p ?x / ?x ?x ?x): same-term filter
                df = df.where(cols[tp.o.name] == o_struct)
            else:
                cols[tp.o.name] = o_struct
        elif isinstance(tp.o, Iri):
            df = df.where((F.col("o_kind") == "iri") & (F.col("o_value") == tp.o.value))
        else:
            df = df.where(
                (F.col("o_kind") == "literal")
                & (F.col("o_value") == tp.o.lex)
                & (F.col("o_datatype") == tp.o.datatype)
                & (F.col("o_lang") == tp.o.lang)
            )
        if self.graph_var is not None:
            g_struct = _term_struct(F.lit("iri"), F.col("graph"), F.lit(""), F.lit(""))
            if self.graph_var in cols:
                # GRAPH ?g { ... ?g ... }: the graph label must equal the
                # term bound at the inner position — same-term filter
                df = df.where(cols[self.graph_var] == g_struct)
            else:
                cols[self.graph_var] = g_struct
        out = df.select(*[c.alias(n) for n, c in cols.items()])
        return out, set(cols)

    def _join_in(self, acc, bound, maybe, df, vs, df_maybe, how="inner"):
        """SPARQL Join/LeftJoin of the accumulator with an operand.

        ``maybe``/``df_maybe`` track variables that may be NULL structs
        (unbound): UNION branch fills and OPTIONAL-introduced variables.
        A shared variable with no unbound risk stays a plain equi-join
        key (hash/sort-merge joinable); a risky one compiles to the
        SPARQL *compatible* condition (unbound matches anything) with a
        COALESCE of the two sides in the output — SPARQL 1.1 §18.5
        ``Join``/``LeftJoin`` over possibly-partial solution mappings.
        """
        if acc is None:
            nm = set(df_maybe)
            if how == "left":
                # SPARQL §18.5 LeftJoin(unit, P): all of P's solutions,
                # or the single empty mapping when P is empty — a 1-row
                # zero-column unit table left-joined on true (the unit
                # side broadcasts; cost is one pass over P)
                unit = df.sparkSession.range(1).select()
                return unit.join(df, F.lit(True), "left"), set(vs), set(vs) | nm
            return df, set(vs), nm
        shared = sorted(bound & vs)
        risky = [v for v in shared if v in maybe or v in df_maybe]
        new_bound = bound | set(vs)
        if not risky:
            if shared:
                acc = acc.join(df, on=shared, how=how)
            elif how == "left":
                # OPTIONAL sharing no variables: every lhs solution
                # extends with every rhs solution (or stays bare when the
                # rhs is empty) — a condition-true left join; inherently
                # a product, bounded by the optional pattern's result
                acc = acc.join(df, F.lit(True), "left")
            else:
                acc = acc.crossJoin(df)
            new_maybe = set(maybe)
            if how == "left":
                new_maybe |= set(df_maybe) | (set(vs) - bound)
            else:
                new_maybe |= set(df_maybe) - bound
            return acc, new_bound, new_maybe
        l, r = acc.alias("__l"), df.alias("__r")
        cond = None
        for v in shared:
            lv, rv = F.col(f"__l.{v}"), F.col(f"__r.{v}")
            c = (lv.isNull() | rv.isNull() | (lv == rv)) if v in risky \
                else (lv == rv)
            cond = c if cond is None else cond & c
        proj = []
        for v in sorted(new_bound):
            if v in shared:
                proj.append(
                    F.coalesce(F.col(f"__l.{v}"), F.col(f"__r.{v}")).alias(v)
                )
            elif v in bound:
                proj.append(F.col(f"__l.{v}").alias(v))
            else:
                proj.append(F.col(f"__r.{v}").alias(v))
        acc = l.join(r, on=cond, how=how).select(*proj)
        new_maybe = set()
        for v in new_bound:
            if v in shared:
                if how == "left":
                    if v in maybe:
                        new_maybe.add(v)
                elif v in maybe and v in df_maybe:
                    new_maybe.add(v)
            elif v in bound:
                if v in maybe:
                    new_maybe.add(v)
            else:
                if v in df_maybe or how == "left":
                    new_maybe.add(v)
        return acc, new_bound, new_maybe

    def _compat_anti(
        self,
        acc: DataFrame,
        probe: DataFrame,
        shared: list[str],
        require_dom_overlap: bool,
        anti: bool,
    ) -> DataFrame:
        """Null-tolerant anti/semi join for MINUS / [NOT] EXISTS over
        possibly-unbound shared variables: match = every shared variable
        compatible (unbound on either side, or equal), optionally also
        requiring ≥1 shared variable bound on BOTH sides (SPARQL Minus's
        domain-intersection clause)."""
        l, r = acc.alias("__l"), probe.alias("__r")
        compat = None
        overlap = None
        for v in shared:
            lv, rv = F.col(f"__l.{v}"), F.col(f"__r.{v}")
            c = lv.isNull() | rv.isNull() | (lv == rv)
            compat = c if compat is None else compat & c
            b = lv.isNotNull() & rv.isNotNull()
            overlap = b if overlap is None else overlap | b
        cond = compat & overlap if require_dom_overlap else compat
        how = "left_anti" if anti else "left_semi"
        return l.join(r, on=cond, how=how)

    def _union_df(self, branches: list[Group]) -> tuple[DataFrame, set[str], set[str]]:
        """UNION = unionByName of branch plans; variables bound in only
        some branches are NULL structs elsewhere (marked ``maybe`` so
        downstream joins use the compatible-join condition instead of a
        row-dropping equi-join)."""
        compiled = [self._group_df3(b) for b in branches]
        allvars = set().union(*[vs for _, vs, _ in compiled])
        maybe = set().union(*[m for _, _, m in compiled])
        out = None
        for df, vs, _ in compiled:
            for missing in sorted(allvars - vs):
                df = df.withColumn(missing, F.lit(None).cast(_TERM_DDL))
                maybe.add(missing)
            out = df if out is None else out.unionByName(df)
        return out, allvars, maybe

    def _node_terms(self) -> DataFrame:
        """All RDF terms occurring in the graph (subjects ∪ objects) — the
        zero-length-path domain of SPARQL 1.1 §9.3 (``p*`` / ``p?`` match
        every graph term to itself). Inside ``GRAPH ?var`` the domain is
        per named graph, so a ``g`` term column rides along."""
        extra = []
        if self.graph_var is not None:
            extra = [
                _term_struct(
                    F.lit("iri"), F.col("graph"), F.lit(""), F.lit("")
                ).alias("g")
            ]
        subs = self.t.select(_subject_struct(F.col("s")).alias("n"), *extra)
        objs = self.t.select(
            _term_struct(
                F.col("o_kind"), F.col("o_value"),
                F.col("o_datatype"), F.col("o_lang"),
            ).alias("n"),
            *extra,
        )
        return subs.unionByName(objs).distinct()

    def _closure_df(self, entry) -> tuple[DataFrame, set[str]]:
        """Arbitrary-length path ``s (inner)mod o`` → a reachability
        relation computed on the semi-naive kernel (``rules.fixpoint``:
        each round joins only the delta, one shuffle on the join key,
        lineage cut by eager localCheckpoint)."""
        s_term, a_name, inner, b_name, mod, o_term = entry[:6]
        gv = self.graph_var  # inside GRAPH ?var the closure is per graph
        edges, _ = self.group_df(inner)
        sel = [F.col(a_name).alias("a"), F.col(b_name).alias("b")]
        if gv is not None:
            sel.append(F.col(gv).alias("g"))
        edges = edges.select(*sel).distinct()
        s_const = not isinstance(s_term, Var)
        o_const = not isinstance(o_term, Var)
        if mod in ("*", "+") and (s_const or o_const):
            # one constant endpoint: frontier BFS from it; two constants:
            # the same kernel as a reachability probe with early exit
            return self._seeded_closure_df(
                edges, s_term, o_term, s_const, mod
            )
        if mod in ("*", "+"):
            # path doubling: the delta joins the FULL relation so covered
            # path length doubles per round — diameter 2^30 within the
            # iteration bound, vs. linear growth for edge extension;
            # inside GRAPH ?var the graph label is an extra join key, so
            # reachability never crosses graphs
            def rule(delta: DataFrame, all_rows: DataFrame, _i: int) -> DataFrame:
                cond = F.col("d.b") == F.col("r.a")
                cols = [F.col("d.a").alias("a"), F.col("r.b").alias("b")]
                if gv is not None:
                    cond = cond & (F.col("d.g") == F.col("r.g"))
                    cols.append(F.col("d.g").alias("g"))
                return (
                    delta.alias("d")
                    .join(all_rows.alias("r"), cond)
                    .select(*cols)
                )

            reach, converged = fixpoint(edges, rule, PATH_CLOSURE_MAX_ITER)
            if not converged:
                raise SparqlUnsupported(
                    "path closure exceeded"
                    f" {PATH_CLOSURE_MAX_ITER} doubling rounds"
                )
        else:  # '?'
            reach = edges
        if mod in ("*", "?"):
            nodes = self._node_terms()
            id_cols = [F.col("n").alias("a"), F.col("n").alias("b")]
            if gv is not None:
                id_cols.append(F.col("g"))
            reach = reach.unionByName(nodes.select(*id_cols))
            if gv is None:
                # §18.4 ZeroLengthPath: a constant endpoint matches
                # itself unconditionally, even when absent from the graph
                # (inside GRAPH ?var a graph binding is still required,
                # so the per-graph node domain stands there)
                spark = edges.sparkSession
                for c in {t for t in (s_term, o_term) if not isinstance(t, Var)}:
                    self_row = spark.range(1).select(
                        _const_struct(c).alias("a"), _const_struct(c).alias("b")
                    )
                    reach = reach.unionByName(self_row)
            reach = reach.distinct()
        # bind the endpoints like a triple pattern: vars project, constants
        # filter (a constant subject can arise from an inverse desugar)
        cols: dict[str, Column] = {}
        df = reach
        for end, term in (("a", s_term), ("b", o_term)):
            if isinstance(term, Var):
                if term.name in cols:  # ?x p+ ?x — cyclic reachability
                    df = df.where(F.col("a") == F.col("b"))
                else:
                    cols[term.name] = F.col(end)
            else:
                df = df.where(F.col(end) == _const_struct(term))
        if not cols:
            # two constant endpoints with '?': the zero-variable solution
            # multiplier — one empty mapping if any row matches, else none
            found = df.limit(1).count() > 0
            return df.sparkSession.range(1 if found else 0).select(), set()
        if gv is not None:
            if gv in cols:
                raise SparqlUnsupported(
                    "graph variable reused as a path-closure endpoint"
                )
            cols[gv] = F.col("g")
        return df.select(*[c.alias(n) for n, c in cols.items()]), set(cols)

    def _seeded_closure_df(
        self, edges: DataFrame, s_term, o_term, s_const: bool, mod: str
    ) -> tuple[DataFrame, set[str]]:
        """Constant-endpoint ``*``/``+`` closure: a frontier fixpoint
        seeded from the constant — O(|reachable set|) work per round and
        never the all-pairs reachability relation (which the general
        path-doubling closure materializes, O(V·E) pairs on a deep/wide
        graph, for an answer that needed one chain). The same frontier
        kernel as the endpoint crawl (``sources/sparql_source.py``).

        With BOTH endpoints constant (``<a> p* <b>`` — the natural ASK
        reachability probe) the walk early-exits as soon as the target
        enters the reach set and the result is the zero-variable
        solution multiplier: one empty mapping if reachable, none
        otherwise (inside ``GRAPH ?var``: the graphs where reachable)."""
        const = s_term if s_const else o_term
        var = o_term if s_const else s_term
        both_const = not isinstance(var, Var)
        target = _const_struct(var) if both_const else None
        gv = self.graph_var  # per-graph frontier inside GRAPH ?var
        gcols = ["g"] if gv is not None else []
        spark_ = edges.sparkSession
        if both_const and gv is None and mod == "*" and const == var:
            # zero-length path: a constant matches itself unconditionally
            return spark_.range(1).select(), set()
        # orient edges so the walk always leaves the seed: reverse them
        # when the *object* end is the constant
        step = edges if s_const else edges.select(
            F.col("b").alias("a"), F.col("a").alias("b"), *gcols
        )
        step = step.localCheckpoint(eager=True)  # reused every round
        # linear frontier extension, depth bounded by PATH_SEEDED_MAX_ITER.
        # Each kernel round chains K frontier joins into one checkpointed
        # job: the per-round fixed cost dominates on deep/thin graphs, so
        # K depths per job cut wall-clock ~K× there; per-step distinct()
        # bounds within-round revisits on cyclic graphs
        cond = F.col("d.b") == F.col("e.a")
        ncols = [F.col("e.b").alias("b")]
        if gv is not None:
            cond = cond & (F.col("d.g") == F.col("e.g"))
            ncols.append(F.col("d.g").alias("g"))
        k = PATH_SEEDED_STEPS_PER_ROUND

        def rule(delta: DataFrame, _all: DataFrame, _i: int) -> DataFrame:
            d, cand = delta, None
            for _ in range(k):
                d = (
                    d.alias("d").join(step.alias("e"), cond)
                    .select(*ncols).distinct()
                )
                cand = d if cand is None else cand.unionByName(d)
            return cand

        def target_reached(new: DataFrame) -> bool:
            # reachability probe: stop as soon as the target is reached
            return new.where(F.col("b") == target).limit(1).count() > 0

        reach, converged = fixpoint(
            step.where(F.col("a") == _const_struct(const)).select("b", *gcols),
            rule,
            -(-PATH_SEEDED_MAX_ITER // k),  # ceil
            stop=target_reached if both_const and gv is None else None,
        )
        if not converged:
            raise SparqlUnsupported(
                "seeded path closure exceeded"
                f" {PATH_SEEDED_MAX_ITER} rounds (graph deeper than the"
                " iteration bound)"
            )
        if mod == "*":
            if gv is None:
                # §18.4 ZeroLengthPath: the constant matches itself
                # unconditionally, even when absent from the graph
                self_row = spark_.range(1).select(
                    _const_struct(const).alias("b")
                )
            else:
                # inside GRAPH ?var a graph binding is required, so the
                # zero-length domain stays per named graph
                self_row = (
                    self._node_terms()
                    .where(F.col("n") == _const_struct(const))
                    .select(F.col("n").alias("b"), *gcols)
                )
            reach = reach.unionByName(self_row).distinct()
        if both_const:
            hit = reach.where(F.col("b") == target)
            if gv is not None:
                return hit.select(F.col("g").alias(gv)).distinct(), {gv}
            found = hit.limit(1).count() > 0
            return spark_.range(1 if found else 0).select(), set()
        if gv is not None:
            if gv == var.name:
                raise SparqlUnsupported(
                    "graph variable reused as a path-closure endpoint"
                )
            return (
                reach.select(F.col("b").alias(var.name), F.col("g").alias(gv)),
                {var.name, gv},
            )
        return reach.select(F.col("b").alias(var.name)), {var.name}

    def _service_df(
        self, endpoint: Iri, silent: bool, inner: Group
    ) -> tuple[DataFrame, set[str], set[str]]:
        """``SERVICE [SILENT] <endpoint> { group }`` (SPARQL 1.1
        Federated Query): serialize the inner pattern back to a SELECT
        (triples, FILTER, BIND, OPTIONAL, UNION, MINUS, [NOT] EXISTS,
        VALUES — ``_group_text``), POST it to the endpoint (same
        transport machinery as the crawl's ``HttpSparqlEndpoint``), and
        join the JSON bindings in like any other operand. SILENT turns
        any transport failure into the spec's single empty solution."""
        body = _group_text(inner)
        vs = sorted(v for v in _group_var_order(inner) if not v.startswith("__"))
        if not body or not vs:
            raise SparqlUnsupported("empty SERVICE pattern")
        query = f"SELECT {' '.join('?' + v for v in vs)} WHERE {{ {body} }}"
        spark = self.t.sparkSession
        ddl = ", ".join(f"`{v}` {_TERM_DDL}" for v in vs)
        try:
            from .sources.sparql_source import HttpSparqlEndpoint

            ep = HttpSparqlEndpoint(spark, endpoint.value)
            rows, names = ep.select_binding_rows(query)
        except Exception:
            if not silent:
                raise
            # SILENT: the single empty solution mapping (§18.6) — one
            # row with every service variable unbound
            row = tuple(None for _ in vs)
            return spark.createDataFrame([row], ddl), set(vs), set(vs)
        # remote endpoints may omit vars per binding → possibly unbound
        data = []
        maybe: set[str] = set()
        idx = {n: i for i, n in enumerate(names)}
        for r in rows:
            row = []
            for v in vs:
                t = r[idx[v]] if v in idx else None
                if t is None:
                    maybe.add(v)
                row.append(t)
            data.append(tuple(row))
        df = (
            spark.createDataFrame(data, ddl)
            if data else spark.createDataFrame([], ddl)
        )
        return df, set(vs), maybe

    def _negset_df(self, s_term, nps, o_term) -> tuple[DataFrame, set[str]]:
        """Negated property set (§9.1): forward edges whose predicate is
        outside the forward members, unioned with reversed edges whose
        predicate is outside the inverse members — each direction only
        if members of that direction were written. Compiles to a scan
        with a NOT-IN predicate filter (no join)."""
        parts: list[DataFrame] = []
        vs: set[str] = set()

        def scan(subj, obj, excluded):
            pv = Var("__npsp")
            df, tvs = self.triple_df(Triple(subj, pv, obj))
            df = df.where(
                ~F.col("__npsp")["value"].isin(list(excluded))
            ).drop("__npsp")
            return df, tvs - {"__npsp"}

        if nps.has_fwd:
            df, vs = scan(s_term, o_term, nps.fwd)
            parts.append(df)
        if nps.has_inv and not isinstance(o_term, Lit):
            # a literal can never be a subject, so the inverse direction
            # of a literal endpoint matches nothing
            df, ivs = scan(o_term, s_term, nps.inv)
            parts.append(df)
            vs = vs | ivs if parts[:-1] else ivs
        if not parts:
            # the only written direction is inapplicable (inverse-only
            # with a literal endpoint: a literal can never be a subject)
            # — valid SPARQL that simply matches nothing, so return the
            # empty solution set over the pattern's variables
            names = list(dict.fromkeys(
                t.name for t in (s_term, o_term) if isinstance(t, Var)
            ))
            if self.graph_var is not None:
                names.append(self.graph_var)
            if names:
                ddl = ", ".join(f"`{v}` {_TERM_DDL}" for v in names)
                return self.t.sparkSession.createDataFrame([], ddl), set(names)
            return self.t.where(F.lit(False)).select(), set()
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out, vs

    def _graph_df(
        self, gterm, inner: Group
    ) -> tuple[DataFrame, set[str], set[str]]:
        """``GRAPH <iri>/{?g} { ... }`` (SPARQL 1.1 §13.3): scope the
        inner group to named-graph rows — a constant label compiles to a
        plain filter on the graph column (partition-prunable when the
        quads are stored partitioned by graph), a variable label rides
        as an extra binding on every inner triple scan so same-graph
        joins fall out of the ordinary equi-join. The reference scopes
        its metadata queries this way (`Queries.java`,
        `Metadata.java:199-228`)."""
        if "graph" not in self.t.columns:
            raise SparqlUnsupported(
                "GRAPH pattern over a relation without a graph column"
            )
        named = self.t.where(
            F.col("graph").isNotNull() & (F.col("graph") != "")
        )
        if isinstance(gterm, Iri):
            sub = _Compiler(named.where(F.col("graph") == gterm.value))
            return sub._group_df3(inner)
        sub = _Compiler(named, graph_var=gterm.name)
        return sub._group_df3(inner)

    def _values_df(
        self, names: list[str], rows: list[tuple]
    ) -> tuple[DataFrame, set[str]]:
        """VALUES inline data → a literal DataFrame of term structs,
        joined (or cross-joined) into the group like any other operand;
        Catalyst can then use it as a broadcast build side. UNDEF slots
        are NULL structs; their variables are returned as possibly
        unbound so downstream joins use the compatible condition."""
        data = [
            tuple(None if t is None else _term_tuple(t) for t in row)
            for row in rows
        ]
        ddl = ", ".join(f"`{n}` {_TERM_DDL}" for n in names)
        undef = {
            n for i, n in enumerate(names)
            if any(row[i] is None for row in rows)
        }
        return self.t.sparkSession.createDataFrame(data, ddl), undef

    def group_df(self, g: Group) -> tuple[DataFrame, set[str]]:
        df, bound, _maybe = self._group_df3(g)
        return df, bound

    def _group_df3(self, g: Group) -> tuple[DataFrame, set[str], set[str]]:
        if (
            not g.triples and not g.binds and not g.unions
            and not g.values_blocks and not g.path_closures
            and not g.graph_blocks and not g.subqueries
            and not g.neg_triples and not g.services
            and not g.optionals
        ):
            raise SparqlUnsupported("empty group pattern")
        acc: DataFrame | None = None
        bound: set[str] = set()
        maybe: set[str] = set()
        for tp in g.triples:
            df, vs = self.triple_df(tp)
            acc, bound, maybe = self._join_in(acc, bound, maybe, df, vs, set())
        for s_term, nps, o_term in g.neg_triples:
            df, vs = self._negset_df(s_term, nps, o_term)
            acc, bound, maybe = self._join_in(acc, bound, maybe, df, vs, set())
        for branches in g.unions:
            df, vs, umaybe = self._union_df(branches)
            acc, bound, maybe = self._join_in(acc, bound, maybe, df, vs, umaybe)
        for gterm, inner in g.graph_blocks:
            df, vs, gmaybe = self._graph_df(gterm, inner)
            acc, bound, maybe = self._join_in(acc, bound, maybe, df, vs, gmaybe)
        for sq in g.subqueries:
            df, names, smaybe = _select_df(self, sq)
            acc, bound, maybe = self._join_in(
                acc, bound, maybe, df, set(names), smaybe
            )
        for endpoint, silent, inner in g.services:
            if isinstance(endpoint, Var):
                # SERVICE ?ep: the endpoint set must be statically known
                # — iterate the IRIs a VALUES block in this group binds
                # the variable to, one request per endpoint, the results
                # unioned with ?ep bound (the spec leaves variable
                # endpoints implementation-defined; Jena does the same
                # bound-values iteration)
                eps: list[Iri] = []
                for names, rows in g.values_blocks:
                    if endpoint.name in names:
                        i = names.index(endpoint.name)
                        for row in rows:
                            if isinstance(row[i], Iri) and row[i] not in eps:
                                eps.append(row[i])
                if not eps:
                    raise SparqlUnsupported(
                        f"SERVICE ?{endpoint.name}: a variable endpoint"
                        " must be bound to IRIs by a VALUES block in the"
                        " same group"
                    )
                df = None
                vs: set[str] = set()
                smaybe: set[str] = set()
                for ep in eps:
                    edf, evs, emaybe = self._service_df(ep, silent, inner)
                    edf = edf.withColumn(endpoint.name, _const_struct(ep))
                    df = edf if df is None else df.unionByName(edf)
                    vs, smaybe = vs | evs, smaybe | emaybe
                vs.add(endpoint.name)
            else:
                df, vs, smaybe = self._service_df(endpoint, silent, inner)
            acc, bound, maybe = self._join_in(acc, bound, maybe, df, vs, smaybe)
        for names, rows in g.values_blocks:
            vdf, undef = self._values_df(names, rows)
            acc, bound, maybe = self._join_in(
                acc, bound, maybe, vdf, set(names), undef
            )
        for entry in g.path_closures:
            df, vs = self._closure_df(entry)
            acc, bound, maybe = self._join_in(acc, bound, maybe, df, vs, set())
        for expr, name in g.binds:
            if acc is None:
                # pure-BIND group (e.g. the SparqlSourceProcessor seed
                # `SELECT ?item WHERE {BIND(<x> AS ?item)}`): one empty row
                acc = self.t.sparkSession.range(1).select()
            if name in bound:
                raise SparqlUnsupported(f"BIND re-binds ?{name}")
            acc = acc.withColumn(name, compile_expr_term(expr, bound))
            bound.add(name)
        for opt in g.optionals:
            odf, ovs, omaybe = self._group_df3(opt)
            acc, bound, maybe = self._join_in(
                acc, bound, maybe, odf, ovs, omaybe, how="left"
            )
        for m in g.minuses:
            mdf, mvs, mmaybe = self._group_df3(m)
            shared = sorted(bound & mvs)
            risky = [v for v in shared if v in maybe or v in mmaybe]
            if shared and not risky:
                # MINUS over disjoint domains removes nothing (SPARQL)
                acc = acc.join(
                    mdf.select(*shared).distinct(), on=shared, how="left_anti"
                )
            elif shared:
                # §18.5 Minus over possibly-unbound shared variables:
                # remove μ1 iff ∃μ2 compatible AND dom(μ1)∩dom(μ2)≠∅ —
                # an anti-join on (all shared compatible) ∧ (≥1 shared
                # bound on both sides); a condition anti-join (BNL) on
                # an algebra corner, never the aspect hot path
                acc = self._compat_anti(
                    acc, mdf.select(*shared).distinct(), shared,
                    require_dom_overlap=True, anti=True,
                )
        for ne in g.not_exists:
            ndf, nvs, nmaybe = self._group_df3(ne)
            shared = sorted(bound & nvs)
            risky = [v for v in shared if v in maybe or v in nmaybe]
            if not shared:
                # a disconnected NOT EXISTS is a boolean gate: keep all
                # rows iff the inner pattern has no solutions (one tiny
                # eager probe, like the closure rounds)
                if ndf.limit(1).count() > 0:
                    acc = acc.where(F.lit(False))
            elif not risky:
                acc = acc.join(
                    ndf.select(*shared).distinct(), on=shared, how="left_anti"
                )
            else:
                # EXISTS-substitution semantics: an unbound μ1 variable
                # stays free in the substituted pattern, so it matches
                # any inner binding — plain compatibility, no domain-
                # overlap requirement
                acc = self._compat_anti(
                    acc, ndf.select(*shared).distinct(), shared,
                    require_dom_overlap=False, anti=True,
                )
        for ex in g.exists:
            edf, evs, emaybe = self._group_df3(ex)
            shared = sorted(bound & evs)
            risky = [v for v in shared if v in maybe or v in emaybe]
            if not shared:
                if edf.limit(1).count() == 0:
                    acc = acc.where(F.lit(False))
            elif not risky:
                acc = acc.join(
                    edf.select(*shared).distinct(), on=shared, how="left_semi"
                )
            else:
                acc = self._compat_anti(
                    acc, edf.select(*shared).distinct(), shared,
                    require_dom_overlap=False, anti=False,
                )
        for fexpr in g.filters:
            acc, fexpr, marks = self._resolve_exists(acc, bound, maybe, fexpr)
            acc = acc.where(compile_expr_bool(fexpr, bound))
            if marks:
                acc = acc.drop(*marks)
        return acc, bound, maybe

    def _resolve_exists(self, acc, bound, maybe, e, marks=None):
        """Resolve ``EXISTS { group }`` nodes inside a filter expression
        to boolean marker columns (§17.4.1.4): compile the inner group,
        left-join its shared-variable keys onto the solution frame with
        a TRUE marker, and substitute a marker reference — so EXISTS
        composes with any boolean operator. Disconnected EXISTS folds to
        a constant via one eager emptiness probe (same as the statement
        form). Returns (frame, rewritten expr, marker column names)."""
        if marks is None:
            marks = []
        if isinstance(e, ExistsExpr):
            edf, evs, emaybe = self._group_df3(e.group)
            shared = sorted(bound & evs)
            if not shared:
                val = "false" if edf.isEmpty() else "true"
                return acc, Lit(val, XSD + "boolean"), marks
            risky = [v for v in shared if v in maybe or v in emaybe]
            mk = f"__ex{len(marks)}_{self._fresh_mark()}"
            if risky:
                # possibly-unbound shared variables: the marker depends
                # only on μ1 restricted to the shared variables, so
                # compute compatibility (same null-tolerant semantics as
                # the statement form) once per DISTINCT shared tuple,
                # then stitch the boolean back with a null-safe equi
                # join — hashable keys, no per-row condition join on acc
                keys = acc.select(*shared).distinct()
                matched = self._compat_anti(
                    keys, edf.select(*shared).distinct(), shared,
                    require_dom_overlap=False, anti=False,
                )
                matched = matched.select(
                    *[F.col(v).alias(f"{mk}_{v}") for v in shared],
                    F.lit(True).alias(mk),
                )
                cond = None
                for v in shared:
                    c = F.col(v).eqNullSafe(F.col(f"{mk}_{v}"))
                    cond = c if cond is None else cond & c
                acc = acc.join(matched, on=cond, how="left").drop(
                    *[f"{mk}_{v}" for v in shared]
                )
                marks.append(mk)
                return acc, _Marker(mk), marks
            probe = edf.select(*shared).distinct().withColumn(mk, F.lit(True))
            acc = acc.join(probe, on=shared, how="left")
            marks.append(mk)
            return acc, _Marker(mk), marks
        if isinstance(e, Op):
            acc, left, marks = self._resolve_exists(acc, bound, maybe, e.left, marks)
            right = e.right
            if right is not None:
                acc, right, marks = self._resolve_exists(
                    acc, bound, maybe, right, marks
                )
            return acc, Op(e.op, left, right), marks
        if isinstance(e, Call):
            args = []
            for x in e.args:
                acc, nx, marks = self._resolve_exists(acc, bound, maybe, x, marks)
                args.append(nx)
            return acc, Call(e.fn, tuple(args)), marks
        return acc, e, marks

    def _fresh_mark(self) -> int:
        self._mark = getattr(self, "_mark", 0) + 1
        return self._mark


_TERM_DDL = "struct<kind:string,value:string,datatype:string,lang:string>"


def _term_text(t) -> str:
    """Serialize a parsed term back to SPARQL text (for SERVICE
    federation requests)."""
    if isinstance(t, Var):
        return f"?{t.name}"
    if isinstance(t, Iri):
        return f"<{t.value}>"
    if isinstance(t, Lit):
        lex = (
            t.lex.replace("\\", "\\\\")
            .replace('"', '\\"')
            .replace("\n", "\\n")
            .replace("\r", "\\r")
            .replace("\t", "\\t")
        )
        if t.lang:
            return f'"{lex}"@{t.lang}'
        if t.datatype and t.datatype != XSD_STRING:
            return f'"{lex}"^^<{t.datatype}>'
        return f'"{lex}"'
    raise SparqlUnsupported(f"cannot serialize term {t!r}")


def _path_text(p) -> str:
    """Serialize a property-path AST back to SPARQL text (for SERVICE
    federation requests). Sub-paths are parenthesized conservatively —
    redundant parentheses are grammatically harmless (§9, PathPrimary
    ::= ... | '(' Path ')')."""
    if isinstance(p, Iri):
        return f"<{p.value}>"
    if isinstance(p, Var):  # pragma: no cover — parser rejects modified vars
        return f"?{p.name}"
    if isinstance(p, PInv):
        return f"^({_path_text(p.inner)})"
    if isinstance(p, PSeq):
        return "(" + "/".join(_path_text(e) for e in p.elts) + ")"
    if isinstance(p, PAlt):
        return "(" + "|".join(_path_text(b) for b in p.branches) + ")"
    if isinstance(p, PMod):
        return f"({_path_text(p.inner)}){p.mod}"
    if isinstance(p, PNegSet):
        members = [f"<{i}>" for i in p.fwd] + [f"^<{i}>" for i in p.inv]
        return "!(" + "|".join(members) + ")"
    raise SparqlUnsupported(f"cannot serialize path {p!r}")


def _expr_text(e) -> str:
    """Serialize a parsed filter/BIND expression back to SPARQL text
    (for SERVICE federation requests). Fully parenthesized, so operator
    precedence survives the round-trip."""
    if isinstance(e, (Var, Iri, Lit)):
        return _term_text(e)
    if isinstance(e, Op):
        if e.right is None:
            sym = "!" if e.op == "!" else "-"
            return f"({sym}{_expr_text(e.left)})"
        return f"({_expr_text(e.left)} {e.op} {_expr_text(e.right)})"
    if isinstance(e, Call):
        # entropy builtins carry hidden (seed, site) args — strip them
        # so the federated endpoint rolls its own randomness
        if e.fn in ("RAND", "UUID", "STRUUID"):
            return f"{e.fn}()"
        args = e.args[:-2] if e.fn == "BNODE" else e.args
        name = f"<{e.fn}>" if e.fn.startswith("http") else e.fn
        return f"{name}({', '.join(_expr_text(a) for a in args)})"
    if isinstance(e, Agg):
        inner = "*" if e.arg is None else _expr_text(e.arg)
        if e.distinct:
            inner = "DISTINCT " + inner
        if e.fn == "GROUP_CONCAT" and e.sep != " ":
            sep = e.sep.replace("\\", "\\\\").replace('"', '\\"')
            return f'{e.fn}({inner}; SEPARATOR="{sep}")'
        return f"{e.fn}({inner})"
    if isinstance(e, ExistsExpr):
        return "EXISTS { " + _group_text(e.group) + " }"
    raise SparqlUnsupported(
        f"cannot serialize expression {e!r} for a SERVICE request"
    )


def _select_text(q: SelectQuery) -> str:
    """Serialize a parsed SELECT (subquery shape) back to SPARQL text —
    used when a §12 subquery appears inside a SERVICE body, where the
    remote endpoint must evaluate it."""
    head = ["SELECT"]
    if q.distinct:
        head.append("DISTINCT")
    if q.star:
        head.append("*")
    for expr, name in q.projections:
        if isinstance(expr, Var) and expr.name == name:
            head.append(f"?{name}")
        else:
            head.append(f"({_expr_text(expr)} AS ?{name})")
    parts = [" ".join(head), "WHERE {", _group_text(q.where), "}"]
    if q.group_by:
        keys = [
            f"({_expr_text(g[0])} AS ?{g[1]})" if isinstance(g, tuple)
            else f"?{g.name}"
            for g in q.group_by
        ]
        parts.append("GROUP BY " + " ".join(keys))
    for h in q.having:
        parts.append(f"HAVING({_expr_text(h)})")
    if q.order:
        parts.append("ORDER BY " + " ".join(
            _expr_text(e) if asc else f"DESC({_expr_text(e)})"
            for e, asc in q.order
        ))
    if q.limit is not None:
        parts.append(f"LIMIT {q.limit}")
    if q.offset is not None:
        parts.append(f"OFFSET {q.offset}")
    return " ".join(parts)


def _values_text(names: list[str], rows: list[tuple]) -> str:
    cells = " ".join("?" + n for n in names)
    body = " ".join(
        "(" + " ".join(
            "UNDEF" if t is None else _term_text(t) for t in row
        ) + ")"
        for row in rows
    )
    return f"VALUES ({cells}) {{ {body} }}"


def _group_text(g: Group) -> str:
    """Serialize a parsed group pattern back to SPARQL text — the
    SERVICE federation wire format (SPARQL 1.1 Federated Query allows
    full group patterns inside SERVICE; the reference gets this from
    Jena ARQ, `Aspect.java:223`). Triples, FILTER, BIND, OPTIONAL,
    UNION, MINUS, FILTER [NOT] EXISTS, VALUES, GRAPH, negated property
    sets, subqueries, nested SERVICE and property-path closures all
    round-trip — closure entries carry the original path AST
    (``entry[6]``) so the path text the remote endpoint sees is the
    path the user wrote, not the desugared edge group."""
    parts: list[str] = []
    for entry in g.path_closures:
        parts.append(
            f"{_term_text(entry[0])} {_path_text(entry[6])}"
            f" {_term_text(entry[5])} ."
        )
    for tp in g.triples:
        parts.append(
            f"{_term_text(tp.s)} {_term_text(tp.p)} {_term_text(tp.o)} ."
        )
    for s, negset, o in g.neg_triples:
        members = [f"<{p}>" for p in negset.fwd] + [
            f"^<{p}>" for p in negset.inv
        ]
        parts.append(
            f"{_term_text(s)} !({'|'.join(members)}) {_term_text(o)} ."
        )
    for gterm, inner in g.graph_blocks:
        parts.append(f"GRAPH {_term_text(gterm)} {{ {_group_text(inner)} }}")
    for sub in g.subqueries:
        parts.append("{ " + _select_text(sub) + " }")
    for endpoint, silent, inner in g.services:
        kw = "SERVICE SILENT" if silent else "SERVICE"
        parts.append(
            f"{kw} {_term_text(endpoint)} {{ {_group_text(inner)} }}"
        )
    for names, rows in g.values_blocks:
        parts.append(_values_text(names, rows))
    for expr, name in g.binds:
        parts.append(f"BIND({_expr_text(expr)} AS ?{name})")
    for branches in g.unions:
        parts.append(
            " UNION ".join("{ " + _group_text(b) + " }" for b in branches)
        )
    for opt in g.optionals:
        parts.append("OPTIONAL { " + _group_text(opt) + " }")
    for m in g.minuses:
        parts.append("MINUS { " + _group_text(m) + " }")
    for ne in g.not_exists:
        parts.append("FILTER NOT EXISTS { " + _group_text(ne) + " }")
    for ex in g.exists:
        parts.append("FILTER EXISTS { " + _group_text(ex) + " }")
    for fexpr in g.filters:
        parts.append(f"FILTER({_expr_text(fexpr)})")
    return " ".join(parts)


def _term_tuple(term) -> tuple:
    if isinstance(term, Iri):
        return ("iri", term.value, "", "")
    if isinstance(term, Lit):
        return ("literal", term.lex, term.datatype, term.lang)
    raise SparqlUnsupported(f"bad VALUES term {term!r}")


# -- expression compilation --------------------------------------------


def _is_numeric_expr(e) -> bool:
    if isinstance(e, Lit):
        return e.datatype in NUMERIC_TYPES
    if isinstance(e, Op):
        return e.op in ("+", "-", "*", "/", "neg")
    if isinstance(e, Call):
        return e.fn in ("STRLEN", "ABS", "ROUND", "CEIL", "FLOOR",
                        "YEAR", "MONTH", "DAY", "HOURS", "MINUTES",
                        "SECONDS", "RAND") or (
            e.fn.startswith(XSD)
            and e.fn[len(XSD):] in ("integer", "decimal", "float", "double")
        )
    return False


def _val(e, bound: set[str]) -> Column:
    """Lexical/plain value of an expression (string Column)."""
    if isinstance(e, Var):
        if e.name not in bound:
            return F.lit(None).cast("string")
        return F.col(e.name)["value"]
    if isinstance(e, Lit):
        return F.lit(e.lex)
    if isinstance(e, Iri):
        return F.lit(e.value)
    if isinstance(e, (Op, Call)):
        c = _compile(e, bound)
        return c.cast("string")
    raise SparqlUnsupported(f"bad expression {e!r}")


def _num(e, bound: set[str]) -> Column:
    return _val(e, bound).cast("double")


def _compile(e, bound: set[str]) -> Column:
    """Compile to a plain Spark column (boolean/number/string)."""
    if isinstance(e, Op):
        if e.op == "||":
            return _ebv(e.left, bound) | _ebv(e.right, bound)
        if e.op == "&&":
            return _ebv(e.left, bound) & _ebv(e.right, bound)
        if e.op == "!":
            return ~_ebv(e.left, bound)
        if e.op == "neg":
            return -_num(e.left, bound)
        if e.op in ("=", "!=", "<", "<=", ">", ">="):
            numeric = _is_numeric_expr(e.left) or _is_numeric_expr(e.right)
            if (
                e.op in ("=", "!=") and not numeric
                and isinstance(e.left, (Var, Iri, Lit))
                and isinstance(e.right, (Var, Iri, Lit))
            ):
                # term operands: numeric value equality when BOTH sides
                # carry numeric datatypes at runtime, full term identity
                # otherwise — an IRI never equals a same-lexical literal,
                # and "01"^^xsd:integer = "1"^^xsd:integer numerically
                eq = _term_eq(e.left, e.right, bound)
                return eq if e.op == "=" else ~eq
            lv = _num(e.left, bound) if numeric else _val(e.left, bound)
            rv = _num(e.right, bound) if numeric else _val(e.right, bound)
            return {
                "=": lv == rv, "!=": lv != rv, "<": lv < rv,
                "<=": lv <= rv, ">": lv > rv, ">=": lv >= rv,
            }[e.op]
        lv, rv = _num(e.left, bound), _num(e.right, bound)
        return {"+": lv + rv, "-": lv - rv, "*": lv * rv, "/": lv / rv}[e.op]
    if isinstance(e, Call):
        return _compile_call(e, bound)
    if isinstance(e, _Marker):
        return F.coalesce(F.col(e.name), F.lit(False))
    if isinstance(e, (Var, Lit, Iri)):
        return _val(e, bound)
    raise SparqlUnsupported(f"bad expression {e!r}")


def _regex_pat(pat: str, flags) -> str:
    """Apply XPath F&O regex flags (§17.4.3.14: i m s x q) to a pattern
    for the JVM regex engine. i/m/s/x embed directly; q quotes the
    whole pattern (\\Q…\\E, any literal \\E split-escaped), and per the
    spec only i retains an effect alongside q."""
    if flags is None:
        return pat
    if not isinstance(flags, Lit) or not re.fullmatch(r"[imsxq]*", flags.lex):
        raise SparqlUnsupported("unsupported regex flags")
    fl = flags.lex
    if "q" in fl:
        pat = "\\Q" + pat.replace("\\E", "\\E\\\\E\\Q") + "\\E"
        fl = "i" if "i" in fl else ""
    if fl:
        pat = f"(?{fl}){pat}"
    return pat


def _entropy_hash(seed: str, salt: str, bound: set[str]) -> Column:
    """Deterministic per-solution entropy for RAND/UUID/BNODE: xxhash64
    of (injected seed, call-site salt, every bound column). Identical
    solutions at the same call site share a value — the documented
    trade for bit-identical replays (same contract NOW() makes for the
    clock)."""
    cols = [F.col(n) for n in sorted(bound)] or [F.lit(0)]
    return F.xxhash64(F.lit(seed), F.lit(salt), *cols)


def _uuid_lex(seed: str, site: str, bound: set[str]) -> Column:
    """RFC 4122 version-4-shaped lexical form from two 64-bit entropy
    hashes (version nibble 4, variant nibble 8-b)."""
    h2c = _entropy_hash(seed, site + "b", bound)
    hx = F.concat(
        F.lower(F.lpad(F.hex(_entropy_hash(seed, site + "a", bound)), 16, "0")),
        F.lower(F.lpad(F.hex(h2c), 16, "0")),
    )
    variant = F.substring(
        F.lit("89ab"), (F.pmod(h2c, F.lit(4)) + 1).cast("int"), F.lit(1)
    )
    return F.concat_ws(
        "-",
        F.substring(hx, 1, 8),
        F.substring(hx, 9, 4),
        F.concat(F.lit("4"), F.substring(hx, 13, 3)),
        F.concat(variant, F.substring(hx, 16, 3)),
        F.substring(hx, 19, 12),
    )


def _bnode_label(e: Call, bound: set[str]) -> Column:
    """BNODE() label (with the '_:' prefix, matching parsed-bnode term
    values). §17.4.2.9: the one-argument form maps the same argument
    value to the same blank node across solutions in one execution, so
    it hashes only (seed, argument); the zero-argument form is fresh
    per solution per call site. The 'be' label prefix keeps minted
    nodes disjoint from any document's own labels."""
    a = e.args
    if len(a) == 3:
        v = _val(a[0], bound)
        h = F.xxhash64(F.lit(a[1].lex), F.lit("bnode-arg"), v)
        return F.when(
            v.isNotNull(),
            F.concat(F.lit("_:be"), F.lower(F.lpad(F.hex(h), 16, "0"))),
        )
    h = _entropy_hash(a[0].lex, a[1].lex + "n", bound)
    return F.concat(F.lit("_:be"), F.lower(F.lpad(F.hex(h), 16, "0")))


def _compile_call(e: Call, bound: set[str]) -> Column:
    fn, a = e.fn, e.args
    if fn == "RAND":
        # xsd:double in [0, 1): 53 bits of the entropy hash (the widest
        # exactly-representable double range)
        h = _entropy_hash(a[-2].lex, a[-1].lex + "r", bound)
        return F.pmod(h, F.lit(2 ** 53)) / F.lit(float(2 ** 53))
    if fn in ("UUID", "STRUUID"):
        u = _uuid_lex(a[-2].lex, a[-1].lex, bound)
        return F.concat(F.lit("urn:uuid:"), u) if fn == "UUID" else u
    if fn == "BNODE":
        return _bnode_label(e, bound)
    if fn == "BOUND":
        if not isinstance(a[0], Var):
            raise SparqlUnsupported("BOUND needs a variable")
        if a[0].name not in bound:
            return F.lit(False)
        return F.col(a[0].name).isNotNull()
    if fn == "STR":
        return _val(a[0], bound)
    if fn == "LANG":
        if isinstance(a[0], Var) and a[0].name in bound:
            return F.coalesce(F.col(a[0].name)["lang"], F.lit(""))
        return F.lit("")
    if fn == "DATATYPE":
        if isinstance(a[0], Var) and a[0].name in bound:
            return F.col(a[0].name)["datatype"]
        return F.lit(None).cast("string")
    if fn == "LANGMATCHES":
        from .functions.lang import lang_matches

        if not isinstance(a[1], Lit):
            raise SparqlUnsupported("langMatches pattern must be a literal")
        return lang_matches(_val(a[0], bound), a[1].lex)
    if fn == "REGEX":
        if not isinstance(a[1], Lit):
            raise SparqlUnsupported("regex pattern must be a literal")
        pat = _regex_pat(a[1].lex, a[2] if len(a) > 2 else None)
        return _val(a[0], bound).rlike(pat)
    if fn in ("LCASE", "UCASE"):
        v = _val(a[0], bound)
        return F.lower(v) if fn == "LCASE" else F.upper(v)
    if fn == "STRLEN":
        return F.length(_val(a[0], bound))
    if fn == "CONTAINS":
        return F.instr(_val(a[0], bound), _val(a[1], bound)) > 0
    if fn == "STRSTARTS":
        return _val(a[0], bound).startswith(_val(a[1], bound))
    if fn == "STRENDS":
        return _val(a[0], bound).endswith(_val(a[1], bound))
    if fn == "CONCAT":
        return F.concat(*[_val(x, bound) for x in a])
    if fn == "SUBSTR":
        v, pos = _val(a[0], bound), _num(a[1], bound).cast("int")
        length = _num(a[2], bound).cast("int") if len(a) > 2 else F.lit(2**31 - 1)
        return F.substring(v, pos, length)
    if fn in ("SHA256", "SHA384", "SHA512"):
        return F.sha2(_val(a[0], bound), int(fn[3:]))
    if fn == "SHA1":
        return F.sha1(_val(a[0], bound))
    if fn == "MD5":
        return F.md5(_val(a[0], bound))
    if fn in ("TZ", "TIMEZONE"):
        # §17.4.5.7/8 over the stored lexical form of the dateTime:
        # TZ is the literal timezone text ("" when absent); TIMEZONE is
        # the canonical xsd:dayTimeDuration (NULL/error when absent)
        tz = F.regexp_extract(
            _val(a[0], bound), r"(Z|[+-]\d{2}:\d{2})$", 1
        )
        if fn == "TZ":
            return tz
        h = F.substring(tz, 2, 2).cast("int")
        m = F.substring(tz, 5, 2).cast("int")
        return (
            F.when(tz == "", F.lit(None).cast("string"))
            .when((tz == "Z") | ((h == 0) & (m == 0)), F.lit("PT0S"))
            .otherwise(
                F.concat(
                    F.when(F.substring(tz, 1, 1) == "-", F.lit("-"))
                    .otherwise(F.lit("")),
                    F.lit("PT"),
                    F.when(h > 0, F.concat(h.cast("string"), F.lit("H")))
                    .otherwise(F.lit("")),
                    F.when(m > 0, F.concat(m.cast("string"), F.lit("M")))
                    .otherwise(F.lit("")),
                )
            )
        )
    if fn == "ABS":
        return F.abs(_num(a[0], bound))
    if fn in ("CEIL", "FLOOR", "ROUND"):
        v = _num(a[0], bound)
        return {"CEIL": F.ceil(v), "FLOOR": F.floor(v), "ROUND": F.round(v)}[fn]
    if fn == "SAMETERM":
        lt = _term_of(a[0], bound)
        rt = _term_of(a[1], bound)
        return lt == rt
    if fn in ("ISIRI", "ISURI", "ISBLANK", "ISLITERAL"):
        t = _term_of(a[0], bound)
        want = {"ISIRI": "iri", "ISURI": "iri", "ISBLANK": "bnode",
                "ISLITERAL": "literal"}[fn]
        return F.coalesce(t["kind"] == want, F.lit(False))
    if fn == "ISNUMERIC":
        t = _term_of(a[0], bound)
        return F.coalesce(
            (t["kind"] == "literal")
            & t["datatype"].isin(list(NUMERIC_TYPES))
            & t["value"].try_cast("double").isNotNull(),
            F.lit(False),
        )
    if fn == "IF":
        if len(a) != 3:
            raise SparqlUnsupported("IF takes exactly 3 arguments")
        return F.when(_ebv(a[0], bound), _compile(a[1], bound)).otherwise(
            _compile(a[2], bound)
        )
    if fn == "COALESCE":
        return F.coalesce(*[_compile(x, bound) for x in a])
    if fn == "REPLACE":
        if not isinstance(a[1], Lit) or not isinstance(a[2], Lit):
            raise SparqlUnsupported(
                "REPLACE pattern/replacement must be literals"
            )
        pat = _regex_pat(a[1].lex, a[3] if len(a) > 3 else None)
        return F.regexp_replace(_val(a[0], bound), pat, a[2].lex)
    if fn in ("STRBEFORE", "STRAFTER"):
        v, sub = _val(a[0], bound), _val(a[1], bound)
        pos = F.instr(v, sub)
        if fn == "STRBEFORE":
            # §17.4.3.4: "" when there is no match; empty needle → ""
            return F.when(
                (pos > 0) & (F.length(sub) > 0), F.substring(v, F.lit(1), pos - 1)
            ).otherwise(F.lit(""))
        # STRAFTER: empty needle → the whole string (it matches at 0)
        return F.when(F.length(sub) == 0, v).otherwise(
            F.when(
                pos > 0,
                F.substring(v, pos + F.length(sub), F.length(v)),
            ).otherwise(F.lit(""))
        )
    if fn == "ENCODE_FOR_URI":
        # url_encode is application/x-www-form-urlencoded; convert to
        # RFC 3986 percent-encoding (§17.4.3.10): space %20, '*'
        # encoded, '~' unreserved
        enc = F.url_encode(_val(a[0], bound))
        enc = F.replace(enc, F.lit("+"), F.lit("%20"))
        enc = F.replace(enc, F.lit("*"), F.lit("%2A"))
        return F.replace(enc, F.lit("%7E"), F.lit("~"))
    if fn in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS"):
        ts = _val(a[0], bound).try_cast("timestamp")
        return {
            "YEAR": F.year(ts), "MONTH": F.month(ts), "DAY": F.dayofmonth(ts),
            "HOURS": F.hour(ts), "MINUTES": F.minute(ts),
            "SECONDS": F.second(ts),
        }[fn]
    if fn in ("IRI", "URI", "STRDT", "STRLANG"):
        # value-level view (e.g. inside STR()/comparisons); the term-
        # level result shape is built by compile_expr_term
        return _val(a[0], bound)
    if fn.startswith(XSD) and fn[len(XSD):] in _XSD_CASTS:
        cast = fn[len(XSD):]
        v = _val(a[0], bound)
        if cast == "string":
            return v
        if cast == "boolean":
            # invalid lexical forms are a cast error → NULL (row dropped
            # in a filter, variable unbound in a BIND)
            return F.when(v.isin("true", "1"), F.lit(True)).when(
                v.isin("false", "0"), F.lit(False)
            )
        if cast == "integer":
            return v.try_cast("long")
        if cast == "dateTime":
            return v.try_cast("timestamp")
        return v.try_cast("double")  # decimal / double / float
    raise SparqlUnsupported(f"function {fn} not supported")


def _ebv(e, bound: set[str]) -> Column:
    """Effective boolean value (§17.2.2) of an expression used as a
    boolean: boolean literals/terms by their value, numerics by != 0,
    strings by length > 0; operator/function results are already
    boolean or numeric columns."""
    if isinstance(e, Lit):
        if e.datatype == XSD + "boolean":
            return F.lit(e.lex == "true")
        if e.datatype in NUMERIC_TYPES:
            return F.lit(float(e.lex) != 0)
        return F.lit(len(e.lex) > 0)
    if isinstance(e, Var):
        t = _term_of(e, bound)
        return F.when(
            t["datatype"] == XSD + "boolean", t["value"] == "true"
        ).when(
            t["datatype"].isin(list(NUMERIC_TYPES)),
            F.coalesce(t["value"].try_cast("double") != 0, F.lit(False)),
        ).otherwise(F.length(t["value"]) > 0)
    if isinstance(e, Op) and e.op in ("||", "&&", "!"):
        if e.op == "!":
            return ~_ebv(e.left, bound)
        l, r = _ebv(e.left, bound), _ebv(e.right, bound)
        return (l | r) if e.op == "||" else (l & r)
    return _compile(e, bound)


def _term_eq(left, right, bound: set[str]) -> Column:
    lt, rt = _term_of(left, bound), _term_of(right, bound)
    nums = list(NUMERIC_TYPES)

    def is_num(t):
        return (t["kind"] == "literal") & t["datatype"].isin(nums)

    return F.when(
        is_num(lt) & is_num(rt),
        lt["value"].cast("double") == rt["value"].cast("double"),
    ).otherwise(lt == rt)


def _term_of(e, bound: set[str]) -> Column:
    if isinstance(e, Var):
        if e.name not in bound:
            return F.lit(None).cast(_TERM_DDL)
        return F.col(e.name)
    if isinstance(e, (Iri, Lit)):
        return _const_struct(e)
    # expression operand (e.g. sameTerm(STRLANG(...), ?x)): its term is
    # whatever a BIND of the expression would produce
    return compile_expr_term(e, bound)


def compile_expr_bool(e, bound: set[str]) -> Column:
    return _ebv(e, bound)


# -- aggregate compilation ---------------------------------------------


def _has_agg(e) -> bool:
    if isinstance(e, Agg):
        return True
    if isinstance(e, Op):
        return _has_agg(e.left) or (e.right is not None and _has_agg(e.right))
    if isinstance(e, Call):
        return any(_has_agg(x) for x in e.args)
    return False


def _sub_aggs(e, reg: dict):
    """Replace each Agg node with a Var bound to an internal aggregate
    column; ``reg`` maps Agg → internal name (deduplicating identical
    aggregates across projections and HAVING)."""
    if isinstance(e, Agg):
        if e not in reg:
            reg[e] = f"__agg{len(reg)}"
        return Var(reg[e])
    if isinstance(e, Op):
        right = _sub_aggs(e.right, reg) if e.right is not None else None
        return Op(e.op, _sub_aggs(e.left, reg), right)
    if isinstance(e, Call):
        return Call(e.fn, tuple(_sub_aggs(x, reg) for x in e.args))
    return e


def _expr_vars(e) -> set[str]:
    if isinstance(e, Var):
        return {e.name}
    if isinstance(e, Op):
        out = _expr_vars(e.left)
        if e.right is not None:
            out |= _expr_vars(e.right)
        return out
    if isinstance(e, Call):
        return set().union(set(), *[_expr_vars(x) for x in e.args])
    return set()


def _num_lit_term(c: Column, datatype: str) -> Column:
    """Numeric aggregate result → literal term with a canonical lexical
    form (integral values carry no decimal point)."""
    d = c.cast("double")
    lex = F.when(
        d == d.cast("long").cast("double"), d.cast("long").cast("string")
    ).otherwise(d.cast("string"))
    return F.when(
        c.isNotNull(), _term_struct(F.lit("literal"), lex, F.lit(datatype), F.lit(""))
    )


def _agg_col(a: Agg, bound: set[str]) -> Column:
    """One Agg → a Spark aggregate expression yielding a term struct.
    MIN/MAX order numeric-datatype terms numerically, others lexically
    (`min_by`/`max_by` over a (non-numeric-flag, number, lexical) key);
    SAMPLE is the deterministic lexical minimum; GROUP_CONCAT sorts its
    inputs (SPARQL leaves the order undefined — sorted is reproducible
    across partitionings)."""
    if a.fn == "COUNT":
        if a.arg is None:
            c = F.count(F.lit(1))
        else:
            t = compile_expr_term(a.arg, bound)
            c = F.count_distinct(t) if a.distinct else F.count(t)
        return _num_lit_term(c, XSD + "integer")
    if a.fn == "SUM":
        v = _num(a.arg, bound)
        return _num_lit_term(
            F.sum_distinct(v) if a.distinct else F.sum(v), XSD + "decimal"
        )
    if a.fn == "AVG":
        v = _num(a.arg, bound)
        if a.distinct:  # no native distinct-avg: sum/count over distincts
            c = F.sum_distinct(v) / F.count_distinct(v)
        else:
            c = F.avg(v)
        return _num_lit_term(c, XSD + "decimal")
    if a.fn in ("MIN", "MAX"):
        t = compile_expr_term(a.arg, bound)
        num = F.when(
            (t["kind"] == "literal") & t["datatype"].isin(list(NUMERIC_TYPES)),
            t["value"].cast("double"),
        )
        key = F.struct(num.isNull().cast("int"), num, t["value"])
        return F.min_by(t, key) if a.fn == "MIN" else F.max_by(t, key)
    if a.fn == "SAMPLE":
        t = compile_expr_term(a.arg, bound)
        return F.min_by(t, t["value"])
    if a.fn == "GROUP_CONCAT":
        v = _val(a.arg, bound)
        lst = F.collect_set(v) if a.distinct else F.collect_list(v)
        return F.when(
            F.size(lst) > 0,
            _term_struct(
                F.lit("literal"),
                F.concat_ws(a.sep, F.array_sort(lst)),
                F.lit(XSD_STRING),
                F.lit(""),
            ),
        )
    raise SparqlUnsupported(f"aggregate {a.fn} not supported")  # pragma: no cover


def _aggregate(df: DataFrame, bound: set[str], q: SelectQuery):
    """GROUP BY / aggregate epilogue: materialize expression group keys,
    groupBy on the key term structs (one shuffle, map-side partial
    aggregation for free), compute the deduplicated aggregate columns,
    then HAVING as a post-aggregation filter. Returns (df, bound,
    substituted projections)."""
    if q.star:
        raise SparqlUnsupported("SELECT * with aggregates")
    key_names: list[str] = []
    for gb in q.group_by:
        if isinstance(gb, Var):
            if gb.name not in bound:
                raise SparqlUnsupported(f"GROUP BY of unbound ?{gb.name}")
            key_names.append(gb.name)
        else:
            expr, name = gb
            df = df.withColumn(name, compile_expr_term(expr, bound))
            bound.add(name)
            key_names.append(name)
    reg: dict = {}
    proj = [(_sub_aggs(e, reg), n) for e, n in q.projections]
    having = [_sub_aggs(h, reg) for h in q.having]
    allowed = set(key_names) | set(reg.values())
    for e, _name in proj:
        for vn in _expr_vars(e):
            if vn not in allowed:
                raise SparqlUnsupported(
                    f"?{vn} is neither grouped nor aggregated"
                )
    for h in having:
        for vn in _expr_vars(h):
            if vn not in allowed:
                raise SparqlUnsupported(
                    f"HAVING over non-grouped ?{vn}"
                )
    agg_cols = [_agg_col(a, bound).alias(nm) for a, nm in reg.items()]
    if agg_cols:
        df = df.groupBy(*[F.col(k) for k in key_names]).agg(*agg_cols)
    else:  # GROUP BY with no aggregates = distinct over the keys
        df = df.select(*key_names).distinct()
    bound = set(allowed)
    for h in having:
        df = df.where(compile_expr_bool(h, bound))
    return df, bound, proj


def compile_expr_term(e, bound: set[str]) -> Column:
    """BIND/projection expression → term struct. String-valued functions
    yield xsd:string literals, numeric ones xsd:double (documented
    restriction; the reference patterns only bind string digests).
    Term-constructor functions build their spec shape: IRI/URI an iri
    term, STRDT a typed literal, STRLANG a language-tagged literal, IF/
    COALESCE pass their branch/argument terms through unchanged."""
    if isinstance(e, (Var,)):
        if e.name not in bound:
            return F.lit(None)
        return F.col(e.name)
    if isinstance(e, (Iri, Lit)):
        return _const_struct(e)
    if isinstance(e, Call) and e.fn in ("IRI", "URI"):
        v = _val(e.args[0], bound)
        return F.when(
            v.isNotNull(), _term_struct(F.lit("iri"), v, F.lit(""), F.lit(""))
        )
    if isinstance(e, Call) and e.fn == "UUID":
        return _term_struct(
            F.lit("iri"), _compile_call(e, bound), F.lit(""), F.lit("")
        )
    if isinstance(e, Call) and e.fn == "BNODE":
        lbl = _compile_call(e, bound)
        return F.when(
            lbl.isNotNull(),
            _term_struct(F.lit("bnode"), lbl, F.lit(""), F.lit("")),
        )
    if isinstance(e, Call) and e.fn == "STRDT":
        if not isinstance(e.args[1], Iri):
            raise SparqlUnsupported("STRDT datatype must be a constant IRI")
        v = _val(e.args[0], bound)
        return F.when(
            v.isNotNull(),
            _term_struct(F.lit("literal"), v, F.lit(e.args[1].value), F.lit("")),
        )
    if isinstance(e, Call) and e.fn == "STRLANG":
        if not isinstance(e.args[1], Lit):
            raise SparqlUnsupported("STRLANG tag must be a constant literal")
        v = _val(e.args[0], bound)
        return F.when(
            v.isNotNull(),
            _term_struct(
                F.lit("literal"), v, F.lit(RDF_LANG_STRING),
                F.lit(e.args[1].lex.lower()),
            ),
        )
    if isinstance(e, Call) and e.fn == "IF":
        return F.when(
            _ebv(e.args[0], bound), compile_expr_term(e.args[1], bound)
        ).otherwise(compile_expr_term(e.args[2], bound))
    if isinstance(e, Call) and e.fn == "COALESCE":
        return F.coalesce(*[compile_expr_term(x, bound) for x in e.args])
    if isinstance(e, Call) and e.fn == "TIMEZONE":
        c = _compile(e, bound)
        return F.when(
            c.isNotNull(),
            _term_struct(
                F.lit("literal"), c, F.lit(XSD + "dayTimeDuration"), F.lit("")
            ),
        )
    if isinstance(e, Call) and e.fn.startswith(XSD) and (
        e.fn[len(XSD):] in _XSD_CASTS
    ):
        cast = e.fn[len(XSD):]
        c = _compile(e, bound)
        if cast == "dateTime":
            lex = F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss")
        elif cast == "boolean":
            lex = F.when(c.isNotNull(), F.when(c, "true").otherwise("false"))
        else:
            lex = c.cast("string")
        return F.when(
            lex.isNotNull(),
            _term_struct(F.lit("literal"), lex, F.lit(e.fn), F.lit("")),
        )
    c = _compile(e, bound)
    numeric = _is_numeric_expr(e)
    dt = XSD + "double" if numeric else XSD_STRING
    return F.when(
        c.isNotNull(),
        _term_struct(F.lit("literal"), c.cast("string"), F.lit(dt), F.lit("")),
    )


# ---------------------------------------------------------------------------
# public API


def _order_keys(order: list, bound: set[str]) -> list[Column]:
    """ORDER BY keys: numeric-datatype terms sort numerically (NULL for
    the non-numeric rows), then lexically — one (numeric, lexical) key
    pair per comparator, directions applied to both."""
    keys: list[Column] = []
    for expr, asc in order:
        if isinstance(expr, Var):
            if expr.name not in bound:
                raise SparqlUnsupported(
                    f"ORDER BY ?{expr.name} is not available here (with"
                    " DISTINCT the variable must be projected)"
                )
            t = F.col(expr.name)
            num = F.when(
                (t["kind"] == "literal") & t["datatype"].isin(list(NUMERIC_TYPES)),
                t["value"].cast("double"),
            )
            parts = [num, t["value"]]
        else:
            parts = [_compile(expr, bound)]
        keys.extend(p.asc() if asc else p.desc() for p in parts)
    return keys


def _select_df(
    comp: _Compiler, q: SelectQuery
) -> tuple[DataFrame, list, set]:
    """Compile a parsed SELECT against a compiler's graph scope —
    shared by top-level ``sparql_select`` and §12 subqueries. Returns
    (result df with one term-struct column per projection name, names
    in projection order, possibly-unbound name set)."""
    df, bound, grp_maybe = comp._group_df3(q.where)
    bound0 = set(bound)
    agg_mode = bool(q.group_by or q.having) or any(
        _has_agg(e) for e, _ in q.projections
    )
    if agg_mode:
        df, bound, projections = _aggregate(df, bound, q)
    else:
        projections = q.projections
        if q.star:
            projections = projections + [
                (Var(n), n)
                for n in _group_var_order(q.where)
                if n in bound and not n.startswith("__")
            ]
    if q.order and not q.distinct and not agg_mode:
        # pre-projection sort may use unprojected variables
        df = df.orderBy(*_order_keys(q.order, bound))
    cols = []
    maybe_out: set[str] = set()
    for expr, name in projections:
        if isinstance(expr, Var):
            if expr.name in bound:
                cols.append(F.col(expr.name).alias(name))
                # aggregate aliases (not bound pre-aggregation) and vars
                # unbound in some rows stay possibly-unbound for callers
                # joining the subquery result
                if expr.name in grp_maybe or expr.name not in bound0:
                    maybe_out.add(name)
            else:
                cols.append(F.lit(None).cast(_TERM_DDL).alias(name))
                maybe_out.add(name)
        else:
            cols.append(compile_expr_term(expr, bound).alias(name))
            maybe_out.add(name)  # expressions may evaluate to NULL
    out = df.select(*cols)
    if q.distinct:
        out = out.distinct()
    if q.order and (q.distinct or agg_mode):
        # post-projection sort: the key space is the projected columns
        # (aggregate aliases live only there)
        out = out.orderBy(
            *_order_keys(q.order, {name for _, name in projections})
        )
    if q.offset:
        out = out.offset(q.offset)
    if q.limit is not None:
        out = out.limit(q.limit)
    return out, [n for _, n in projections], maybe_out


def sparql_select(
    triples: DataFrame, query_text: str, now=None, entropy=None
) -> DataFrame:
    """Run a restricted SPARQL SELECT over the triples DataFrame. Output:
    one struct column (kind, value, datatype, lang) per projected
    variable; unbound optionals are NULL structs. Solution modifiers
    (ORDER BY / LIMIT / OFFSET) are honored — the reference preserves
    them from aspect patterns (`ComparisonProcessor.java:57-75`)."""
    q = parse_select(query_text, now=now, entropy=entropy)
    out, _names, _maybe = _select_df(_Compiler(triples), q)
    return out


def sparql_ask(
    triples: DataFrame, query_text: str, now=None, entropy=None
) -> bool:
    """Run a restricted SPARQL ASK: true iff the WHERE group has at least
    one solution. The reference issues ASK probes through Jena
    (`Processor.java:124-161` membership checks); here the probe is a
    one-row existence action on the compiled group plan."""
    q = _Parser(query_text, now=now, entropy=entropy).parse_ask()
    df, _bound = _Compiler(triples).group_df(q.where)
    return not df.isEmpty()


_DESCRIBE_MAX_ROUNDS = 50


def sparql_describe(triples: DataFrame, query_text: str) -> DataFrame:
    """Run a restricted SPARQL DESCRIBE: for each target (explicit IRI or
    WHERE-bound variable) return its subject statements plus the closure
    of blank-node objects (the concise-bounded-description shape Jena
    produces, `SparqlSourceProcessor.java:222-244` uses the same
    two-pattern describe). Output: triples-DataFrame shape."""
    q = _Parser(query_text).parse_describe()
    spark = triples.sparkSession
    iri_targets = [t.value for t in q.targets if isinstance(t, Iri)]
    var_targets = [t.name for t in q.targets if isinstance(t, Var)]
    res: DataFrame | None = (
        spark.createDataFrame([(v,) for v in iri_targets], "r string")
        if iri_targets
        else None
    )
    if var_targets or q.star:
        if q.where is None:
            raise SparqlUnsupported("DESCRIBE with variables needs a WHERE group")
        df, bound = _Compiler(triples).group_df(q.where)
        if q.star:
            # user variables only: property-path desugaring introduces
            # internal fresh variables (__p1, ...) that are not in-scope
            # for `DESCRIBE *`
            var_targets = sorted(v for v in bound if not v.startswith("__"))
        for n in var_targets:
            if n not in bound:
                raise SparqlUnsupported(f"?{n} not bound in DESCRIBE WHERE")
            sel = df.where(
                F.col(n)["kind"].isin("iri", "bnode")
            ).select(F.col(n)["value"].alias("r"))
            res = sel if res is None else res.unionByName(sel)
    assert res is not None  # parse_describe guarantees >=1 target

    # close the set of reached resources (targets plus blank-node objects
    # of reached subjects), then take their statements once: every
    # reached resource is a frontier exactly once, so this equals the
    # union of each round's statements
    def rule(delta: DataFrame, _all: DataFrame, _i: int) -> DataFrame:
        return (
            triples.join(delta, F.col("s") == F.col("r"), "left_semi")
            .where(F.col("o_kind") == "bnode")
            .select(F.col("o_value").alias("r"))
        )

    seen, converged = fixpoint(res, rule, _DESCRIBE_MAX_ROUNDS)
    if not converged:
        raise SparqlUnsupported("DESCRIBE blank-node closure did not converge")
    return triples.join(seen, F.col("s") == F.col("r"), "left_semi").distinct()


def aspect_pattern_values(
    triples: DataFrame, dataset: str, pattern: str, key_var: str
) -> tuple[DataFrame, DataFrame]:
    """Execute an aspect defining query (`Aspect.java:91-116`) for one
    dataset and return ``(values, members)``:

      * values  — VALUES_SCHEMA long rows (dataset, resource, variable,
        o_kind, o_value, o_datatype, o_lang), one per bound (resource,
        variable, value); unbound OPTIONAL slots yield no row, matching
        the reference's Set<RDFNode> semantics (`Aspect.java:145-170`).
      * members — MEMBERS_SCHEMA distinct (dataset, resource).
    """
    wide = sparql_select(triples, pattern)
    names = [f.name for f in wide.schema.fields]
    if key_var not in names:
        raise SparqlUnsupported(f"key variable ?{key_var} not in projection")
    value_vars = [n for n in names if n != key_var]
    key = F.col(key_var)["value"]
    members = (
        wide.where(key.isNotNull())
        .select(F.lit(dataset).alias("dataset"), key.alias("resource"))
        .distinct()
    )
    parts = []
    for v in value_vars:
        t = F.col(v)
        parts.append(
            wide.where(key.isNotNull() & t.isNotNull()).select(
                F.lit(dataset).alias("dataset"),
                key.alias("resource"),
                F.lit(v).alias("variable"),
                t["kind"].alias("o_kind"),
                t["value"].alias("o_value"),
                F.when(t["kind"] == "literal", t["datatype"]).alias("o_datatype"),
                F.coalesce(
                    F.when(t["kind"] == "literal", t["lang"]), F.lit("")
                ).alias("o_lang"),
            )
        )
    if not parts:
        values = members.sparkSession.createDataFrame([], schema=_values_ddl())
    else:
        values = parts[0]
        for p in parts[1:]:
            values = values.unionByName(p)
        values = values.distinct()
    return values, members


def _values_ddl() -> str:
    return (
        "dataset string, resource string, variable string, o_kind string,"
        " o_value string, o_datatype string, o_lang string"
    )
