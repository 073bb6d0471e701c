"""Rule-text execution — the user-facing surface of the reference's
transform processors, compiled onto the semi-naive fixpoint kernel:

  * ``apply_jena_rules`` — Jena-style forward rule text
    ``[name: (?a <p> ?b) (?b <q> ?c) -> (?a <r> ?c)]`` run to fixpoint,
    matching GenericRuleReasoner FORWARD_RETE semantics
    (`ForwardRuleReasoningProcessor.java:33-44`; syntax as used by
    `ForwardRuleReasoningProcessorTest.java:49`).
  * ``apply_construct`` — SPARQL CONSTRUCT text re-run up to
    ``max_iterations`` times until no new statements
    (`SparqlConstructProcessor.java:30-56`), including the IRI sequence
    paths its own test exercises (`SparqlConstructProcessorTest.java:49`).

Each rule body compiles to the same Catalyst join plan as an aspect
pattern (sparql._Compiler); iteration is driver-side with
``localCheckpoint`` per round (Catalyst does not iterate, SURVEY.md §4).
The forward-rule loop is **semi-naive**: after round 1, each body atom is
in turn restricted to the previous round's delta, so per-round work is
proportional to new facts — the property that keeps recursive rules
feasible at 10^9+ triples (a naive loop re-derives everything each
round).

Builtins supported in rule *bodies* (GenericRuleReasoner grammar,
`ForwardRuleReasoningProcessor.java:33-44` accepts any of them in rule
text) —

  * ``noValue(?s <p> [?o])`` compiles to a left-anti join against the
    current statement relation (Jena's NoValue). Like Jena's forward
    engine, it is evaluated against the state of each round and derived
    facts are never retracted, so rules should be stratified (noValue
    over predicates the rules don't later derive).
  * ``regex(?x, "pattern")`` compiles to an anchored ``rlike`` (Jena's
    Regex does a full ``matches()``); group binding is not supported.
  * comparisons ``lessThan / greaterThan / le / ge`` — comparison of
    the two argument values as numbers, or as time instants (epoch
    seconds) when not numeric — Jena's "numbers or time instants". A
    value that is neither fails the builtin, so the rule does not fire
    for that binding — Jena's behavior for incomparable arguments.
  * ``equal / notEqual`` — term equality (kind, value, datatype, lang)
    or numeric value equality, mirroring Jena's sameValueAs semantics
    for typed numbers.
  * tests ``bound(?x)``, ``isLiteral(?x)``, ``isIRI(?x)`` /
    ``isURI(?x)``, ``isBNode(?x)`` — column predicates on the bound
    term struct.
  * binding builtins ``sum/difference/product/quotient/min/max(?a, ?b,
    ?c)``, ``addOne(?a, ?c)``, ``strConcat(... ?out)``,
    ``uriConcat(... ?out)``, ``makeTemp(?v ...)`` — evaluated in
    written order like Jena's forward engine: the last argument binds
    the computed value when unbound, otherwise the builtin acts as an
    equality check (Jena ``BaseBuiltin.bind``). Arithmetic follows
    Jena's promotion: integer results when both inputs are
    integer-family typed with integral lexical forms, double otherwise
    (we also promote fractional xsd:decimal instead of truncating);
    ``quotient`` on integers truncates toward zero like Java long
    division, and division by zero fails the builtin (row dropped)
    rather than raising. ``makeTemp`` mints a blank node whose label is
    a deterministic 128-bit hash of the rule id and the row's bindings,
    so re-deriving the same match in a later semi-naive round
    deduplicates instead of minting forever (Jena's RETE engine fires
    once per token; this is the distributed equivalent).

All builtins compile to column predicates or projections (plus one
anti-join for noValue) over the matched body bindings — no new join
shapes. Restrictions: the remaining Jena builtins (``table``,
``hide``, print/drop side-effects, backward-only builtins), builtins
in rule heads, and backward rules are unsupported; CONSTRUCT WHERE
supports the aspect-pattern subset of sparql.py. Unsupported syntax
raises ``SparqlUnsupported``.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..model import (
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_FLOAT,
    XSD_INTEGER,
    XSD_INTEGER_TYPES,
    XSD_STRING,
)
from ..sparql import (
    Iri,
    Lit,
    SparqlUnsupported,
    Triple,
    Var,
    _Compiler,
    _Parser,
    _order_keys,
    _term_struct,
    parse_construct,
)
from .rules import fixpoint

TRIPLE_COLS = ("s", "p", "o_kind", "o_value", "o_datatype", "o_lang")


#: comparison builtins: (name, arity-2) numeric/term predicates
_CMP_BUILTINS = ("lessThan", "greaterThan", "le", "ge", "equal", "notEqual")
#: unary term tests
_TEST_BUILTINS = ("bound", "isLiteral", "isIRI", "isURI", "isBNode")
#: binding builtins: compute a value into the LAST argument (an unbound
#: variable), evaluated in written order like Jena's forward engine
_ARITH_BUILTINS = ("sum", "difference", "product", "quotient", "min", "max",
                   "addOne")
_BIND_BUILTINS = _ARITH_BUILTINS + ("strConcat", "uriConcat", "makeTemp")
#: binary datatype tests: (term, <datatype-IRI>)
_DTYPE_BUILTINS = ("isDType", "notDType")
#: trace/engine-hint builtins accepted and ignored — Jena's print is a
#: per-match trace side effect and table/tableAll/hide are backward-
#: engine tabling hints, none of which affect a set-at-a-time forward
#: pass; accepting them lets real-world Jena rule files run unchanged
_NOOP_BUILTINS = ("print", "table", "tableAll", "hide")
_ALL_BUILTINS = (
    ("noValue", "regex") + _CMP_BUILTINS + _TEST_BUILTINS + _BIND_BUILTINS
    + _DTYPE_BUILTINS + _NOOP_BUILTINS
)


@dataclass(frozen=True)
class Builtin:
    name: str     # one of _ALL_BUILTINS
    args: tuple   # parsed terms


@dataclass(frozen=True)
class Rule:
    name: str
    body: tuple[Triple, ...]
    head: tuple[Triple, ...]
    builtins: tuple = ()  # Builtin filters over the body bindings


# ---------------------------------------------------------------------------
# Jena rule text parsing


def parse_jena_rules(text: str) -> list[Rule]:
    """Parse forward rule text: ``PREFIX`` lines plus
    ``[name: atoms -> atoms]`` (or bare ``atoms -> atoms .``) with
    parenthesized triple atoms."""
    p = _Parser(text)
    rules: list[Rule] = []
    while True:
        k, v = p.peek()
        if k == "eof":
            break
        if p.at_word("PREFIX"):
            p.parse_prologue()
            continue
        rules.append(_parse_rule(p))
    if not rules:
        raise SparqlUnsupported("no rules found")
    return rules


def _parse_rule(p: _Parser) -> Rule:
    bracketed = False
    name = ""
    if p.peek()[1] == "[":
        bracketed = True
        p.next()
    k2, v2 = p.peek()
    if k2 == "pname" and v2.endswith(":"):
        # optional "name:" label
        name = v2[:-1]
        p.next()
    body = []
    builtins = []
    while True:
        k2, v2 = p.peek()
        if v2 == "(":
            body.append(_parse_atom(p))
        elif v2 in _ALL_BUILTINS:
            builtins.append(_parse_builtin(p))
        else:
            break
    if p.peek()[1] == "-":
        p.next()
    if p.peek()[1] != ">":
        raise SparqlUnsupported("expected -> between body and head")
    p.next()
    head = []
    while p.peek()[1] == "(":
        head.append(_parse_atom(p))
    if bracketed:
        if p.peek()[1] != "]":
            raise SparqlUnsupported(
                f"unsupported rule syntax near {p.peek()[1]!r} (supported"
                f" body builtins: {', '.join(_ALL_BUILTINS)})"
            )
        p.next()
    if p.peek()[1] == ".":
        p.next()
    if not body or not head:
        raise SparqlUnsupported("rule needs at least one body and head atom")
    # builtins see bindings in written order (Jena's forward engine);
    # binding builtins extend the available set for later builtins and
    # for the head
    avail = _triple_vars(body)
    for b in builtins:
        if b.name == "regex":
            tgt = b.args[0]
            if not (isinstance(tgt, Var) and tgt.name in avail):
                raise SparqlUnsupported(
                    "regex target must be a variable bound in the body"
                )
        elif b.name == "noValue":
            # needs ≥1 body variable to anchor the anti-join
            if not any(
                isinstance(t, Var) and t.name in avail for t in b.args
            ):
                raise SparqlUnsupported(
                    "noValue must share a variable with the rule body"
                )
        elif b.name == "makeTemp":
            for t in b.args:
                if not isinstance(t, Var) or t.name in avail:
                    raise SparqlUnsupported(
                        "makeTemp arguments must be unbound variables"
                    )
                avail.add(t.name)
        elif b.name in _BIND_BUILTINS:
            for t in b.args[:-1]:
                if isinstance(t, Var) and t.name not in avail:
                    raise SparqlUnsupported(
                        f"{b.name} input ?{t.name} not bound in the body"
                    )
            out = b.args[-1]
            if isinstance(out, Var) and out.name not in avail:
                avail.add(out.name)
            # else: check mode — the computed value is compared against
            # the already-bound term (Jena BaseBuiltin.bind)
        else:  # comparison/test: every variable argument must be bound
            for t in b.args:
                if isinstance(t, Var) and t.name not in avail:
                    raise SparqlUnsupported(
                        f"{b.name} argument ?{t.name} not bound in the body"
                    )
    for tp in head:
        if not _triple_vars([tp]) <= avail:
            raise SparqlUnsupported("head variable not bound in body")
    return Rule(name, tuple(body), tuple(head), tuple(builtins))


def _parse_atom(p: _Parser) -> Triple:
    p.eat("(")
    s = p.parse_term(position="subject")
    pred = p.parse_term(position="predicate")
    o = p.parse_term(position="object")
    p.eat(")")
    return Triple(s, pred, o)


def _parse_builtin(p: _Parser) -> Builtin:
    name = p.next()[1]
    p.eat("(")
    args = []
    while p.peek()[1] != ")":
        if p.peek()[1] == ",":
            p.next()
            continue
        args.append(p.parse_term(position="object"))
    p.next()  # ')'
    if name == "regex":
        if len(args) != 2 or not isinstance(args[1], Lit):
            raise SparqlUnsupported(
                "regex builtin takes (term, \"pattern\"); group binding"
                " is not supported"
            )
    elif name == "noValue":
        if len(args) not in (2, 3):
            raise SparqlUnsupported("noValue builtin takes (s, p[, o])")
    elif name in _CMP_BUILTINS:
        if len(args) != 2:
            raise SparqlUnsupported(f"{name} builtin takes exactly 2 arguments")
    elif name in _TEST_BUILTINS:
        if len(args) != 1:
            raise SparqlUnsupported(f"{name} builtin takes exactly 1 argument")
    elif name in _ARITH_BUILTINS:
        need = 2 if name == "addOne" else 3
        if len(args) != need:
            raise SparqlUnsupported(
                f"{name} builtin takes exactly {need} arguments"
            )
    elif name in ("strConcat", "uriConcat", "makeTemp"):
        if not args:
            raise SparqlUnsupported(f"{name} builtin takes at least 1 argument")
    elif name in _DTYPE_BUILTINS:
        if len(args) != 2 or not isinstance(args[1], Iri):
            raise SparqlUnsupported(
                f"{name} builtin takes (term, <datatype-IRI>)"
            )
    return Builtin(name, tuple(args))


def _triple_vars(triples) -> set[str]:
    out = set()
    for tp in triples:
        for t in (tp.s, tp.p, tp.o):
            if isinstance(t, Var):
                out.add(t.name)
    return out


# ---------------------------------------------------------------------------
# compilation / evaluation


def _body_df(comp_all: _Compiler, comp_delta: _Compiler | None, body, delta_idx):
    """Join plan for one rule body; atom ``delta_idx`` (if given) scans the
    delta relation instead of the full one (semi-naive)."""
    acc: DataFrame | None = None
    bound: set[str] = set()
    for i, tp in enumerate(body):
        comp = comp_delta if (comp_delta is not None and i == delta_idx) else comp_all
        df, vs = comp.triple_df(tp)
        if acc is None:
            acc, bound = df, set(vs)
        else:
            shared = sorted(bound & vs)
            acc = acc.join(df, on=shared) if shared else acc.crossJoin(df)
            bound |= vs
    return acc, bound


def _builtin_struct(t):
    """Term struct column for a builtin argument (Var → bound column,
    constant → literal struct; fields are never NULL, so plain struct
    equality is term identity)."""
    from ..sparql import _const_struct

    return F.col(t.name) if isinstance(t, Var) else _const_struct(t)


def _builtin_num(t):
    """Comparable view of a builtin argument's value: a number, or a
    time instant as epoch seconds (Jena's lessThan family compares
    "numbers or time instants"). NULL when the value is neither — the
    builtin then fails for that binding, matching Jena's
    incomparable-arguments behavior. try_cast keeps ANSI mode from
    throwing on malformed input."""
    v = F.col(t.name)["value"] if isinstance(t, Var) else (
        F.lit(t.lex) if isinstance(t, Lit) else F.lit(t.value)
    )
    return F.coalesce(
        v.try_cast("double"),
        v.try_cast("timestamp").cast("double"),
    )


def _builtin_lex(t):
    """Lexical view of a builtin argument (literal lex / IRI string /
    bnode label)."""
    if isinstance(t, Var):
        return F.col(t.name)["value"]
    return F.lit(t.lex) if isinstance(t, Lit) else F.lit(t.value)


def _builtin_dt(t):
    if isinstance(t, Var):
        return F.col(t.name)["datatype"]
    return F.lit(t.datatype) if isinstance(t, Lit) else F.lit("")


def _arith_struct(name, ins):
    """Result term of an arithmetic builtin, with Jena's numeric
    promotion: integer arithmetic when every input is integer-family
    typed with an integral lexical form, double otherwise (Jena
    promotes on Float/Double instances; we additionally promote
    fractional xsd:decimal instead of truncating). NULL value when an
    input is non-numeric or a division hits zero — the builtin then
    fails for that binding."""
    dbls = [_builtin_lex(t).try_cast("double") for t in ins]
    longs = [_builtin_lex(t).try_cast("long") for t in ins]
    all_int = F.lit(True)
    for t, lg in zip(ins, longs):
        all_int = all_int & _builtin_dt(t).isin(*XSD_INTEGER_TYPES) & lg.isNotNull()

    def combine(vals):
        a = vals[0]
        if name == "addOne":
            return a + F.lit(1)
        b = vals[1]
        if name == "sum":
            return a + b
        if name == "difference":
            return a - b
        if name == "product":
            return a * b
        if name == "quotient":
            return F.try_divide(a, b)
        if name == "min":
            return F.least(a, b)
        return F.greatest(a, b)  # max

    lval = combine(longs)
    if name == "quotient":
        # Java long division truncates toward zero (as does double→long)
        lval = lval.cast("long")
    # every input must be numeric (least/greatest would skip NULLs)
    all_num = F.lit(True)
    for d in dbls:
        all_num = all_num & d.isNotNull()
    value = F.when(
        all_num,
        F.when(all_int, lval.cast("string")).otherwise(
            combine(dbls).cast("string")
        ),
    )
    dt = F.when(all_int, F.lit(XSD_INTEGER)).otherwise(F.lit(XSD_DOUBLE))
    return _term_struct(F.lit("literal"), value, dt, F.lit(""))


def _bind_or_check(acc, bound, out, res):
    """Jena BaseBuiltin.bind: bind the output variable when unbound;
    when already bound (or a constant), check computed == bound term.
    Rows where the computation failed (NULL value) are dropped — the
    builtin fails for that binding."""
    acc = acc.where(res["value"].isNotNull())
    if isinstance(out, Var) and out.name not in bound:
        return acc.withColumn(out.name, res), bound | {out.name}
    return acc.where(_builtin_struct(out) == res), bound


def mint_bnodes(
    df: DataFrame, row_vars, names, prefix: str, tag: str
) -> DataFrame:
    """Bind each of ``names`` to a blank node minted per row of ``df``.
    The label is ``prefix`` + two salted 64-bit hashes (≈ a 128-bit
    label) of ``tag + name`` and the ``row_vars`` bindings, so the same
    match in a later fixpoint round re-mints the same bnode and the
    anti-join dedups instead of deriving forever."""
    row_cols = [F.col(v) for v in sorted(row_vars)]
    for name in names:
        t = F.lit(tag + name)
        label = F.concat(
            F.lit(prefix),
            F.xxhash64(t, F.lit(1), *row_cols).cast("string"),
            F.lit("x"),
            F.xxhash64(t, F.lit(2), *row_cols).cast("string"),
        )
        df = df.withColumn(
            name, _term_struct(F.lit("bnode"), label, F.lit(""), F.lit(""))
        )
    return df


def _apply_builtins(
    comp_all: _Compiler, acc: DataFrame, bound: set[str], builtins, salt=""
) -> tuple[DataFrame, set[str]]:
    """Builtin evaluation over the matched body bindings, in written
    order: regex → anchored rlike; comparisons/tests → column
    predicates; noValue → left-anti join against the current statement
    relation (evaluated per round, like Jena's forward engine); binding
    builtins → projected columns. Returns the filtered/extended frame
    and the updated bound-variable set."""
    fresh = 0
    bound = set(bound)
    for bi, b in enumerate(builtins):
        if b.name == "makeTemp":
            # deterministic per (rule, row bindings)
            names = [t.name for t in b.args]
            acc = mint_bnodes(acc, bound, names, "_:mt", f"{salt}/{bi}/")
            bound.update(names)
            continue
        if b.name in ("strConcat", "uriConcat"):
            ins, out = b.args[:-1], b.args[-1]
            val = F.concat(*[_builtin_lex(t) for t in ins]) if ins else F.lit("")
            if b.name == "strConcat":
                res = _term_struct(
                    F.lit("literal"), val, F.lit(XSD_STRING), F.lit("")
                )
            else:
                res = _term_struct(F.lit("iri"), val, F.lit(""), F.lit(""))
            acc, bound = _bind_or_check(acc, bound, out, res)
            continue
        if b.name in _ARITH_BUILTINS:
            acc, bound = _bind_or_check(
                acc, bound, b.args[-1], _arith_struct(b.name, b.args[:-1])
            )
            continue
        if b.name == "regex":
            tgt, pat = b.args
            acc = acc.where(
                F.col(tgt.name)["value"].rlike(f"^(?:{pat.lex})$")
            )
            continue
        if b.name in _CMP_BUILTINS:
            x, y = b.args
            if b.name in ("equal", "notEqual"):
                # Jena sameValueAs: identical terms, or numerically
                # equal typed numbers; never NULL so notEqual is safe
                eq = (_builtin_struct(x) == _builtin_struct(y)) | F.coalesce(
                    _builtin_num(x) == _builtin_num(y), F.lit(False)
                )
                acc = acc.where(eq if b.name == "equal" else ~eq)
            else:
                op = {
                    "lessThan": "__lt__", "greaterThan": "__gt__",
                    "le": "__le__", "ge": "__ge__",
                }[b.name]
                # NULL (non-numeric) comparisons filter the row out
                acc = acc.where(getattr(_builtin_num(x), op)(_builtin_num(y)))
            continue
        if b.name in _NOOP_BUILTINS:
            continue  # trace / tabling hints: no forward-pass effect
        if b.name in _DTYPE_BUILTINS:
            # Jena isDType = dt.isValidLiteral(node): datatype tag match
            # plus lexical validity, checked for the numeric family via
            # the XSD lexical grammars (JVM rlike — casts would accept
            # fractional-integer or exponent-decimal forms by rounding);
            # other datatypes trust the tag
            t, dt = b.args
            valid = F.lit(True)
            if dt.value == XSD_DECIMAL:  # before the integer family —
                # model.XSD_INTEGER_TYPES includes decimal (arithmetic
                # promotion grouping), but its lexical grammar differs:
                # optional fraction, no exponent, no INF/NaN
                valid = _builtin_lex(t).rlike(
                    r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)$"
                )
            elif dt.value in XSD_INTEGER_TYPES:
                # unbounded digits, no fraction (a 40-digit form is valid)
                valid = _builtin_lex(t).rlike(r"^[+-]?[0-9]+$")
            elif dt.value in (XSD_DOUBLE, XSD_FLOAT):
                # xsd float/double grammar incl. the XSD spellings of
                # the specials (INF/-INF/+INF/NaN)
                valid = _builtin_lex(t).rlike(
                    r"^(NaN|[+-]?(INF|([0-9]+(\.[0-9]*)?|\.[0-9]+)"
                    r"([eE][+-]?[0-9]+)?))$"
                )
            is_t = (
                (_builtin_struct(t)["kind"] == "literal")
                & _builtin_dt(t).eqNullSafe(F.lit(dt.value))
                & valid
            )
            acc = acc.where(is_t if b.name == "isDType" else ~is_t)
            continue
        if b.name in _TEST_BUILTINS:
            (t,) = b.args
            c = _builtin_struct(t)
            if b.name == "bound":
                acc = acc.where(c.isNotNull())
            elif b.name == "isLiteral":
                acc = acc.where(c["kind"] == "literal")
            elif b.name == "isBNode":
                acc = acc.where(c["kind"] == "bnode")
            else:  # isIRI / isURI
                acc = acc.where(c["kind"] == "iri")
            continue
        # noValue(s, p[, o]): absent-object form probes with a fresh var
        terms = list(b.args)
        if len(terms) == 2:
            fresh += 1
            terms.append(Var(f"__nv{fresh}"))
        probe, vs = comp_all.triple_df(Triple(*terms))
        shared = sorted(bound & vs)
        acc = acc.join(probe.select(*shared).distinct(), on=shared,
                       how="left_anti")
    return acc, bound


def _head_rows(match: DataFrame, bound: set[str], head) -> DataFrame:
    """Project matched bindings through the head templates into triple
    rows. Rows whose subject binds a literal (illegal RDF) are dropped."""
    outs = []
    for tp in head:
        cols = []
        if isinstance(tp.s, Var):
            scol = F.col(tp.s.name)["value"]
            svalid = F.col(tp.s.name)["kind"] != "literal"
        elif isinstance(tp.s, Iri):
            scol, svalid = F.lit(tp.s.value), F.lit(True)
        else:
            raise SparqlUnsupported("literal subject in rule head")
        cols.append(scol.alias("s"))
        if isinstance(tp.p, Var):
            pcol = F.col(tp.p.name)["value"]
        elif isinstance(tp.p, Iri):
            pcol = F.lit(tp.p.value)
        else:
            raise SparqlUnsupported("literal predicate in rule head")
        cols.append(pcol.alias("p"))
        if isinstance(tp.o, Var):
            t = F.col(tp.o.name)
            cols += [
                t["kind"].alias("o_kind"),
                t["value"].alias("o_value"),
                t["datatype"].alias("o_datatype"),
                t["lang"].alias("o_lang"),
            ]
        elif isinstance(tp.o, Iri):
            cols += [
                F.lit("iri").alias("o_kind"), F.lit(tp.o.value).alias("o_value"),
                F.lit("").alias("o_datatype"), F.lit("").alias("o_lang"),
            ]
        else:
            cols += [
                F.lit("literal").alias("o_kind"), F.lit(tp.o.lex).alias("o_value"),
                F.lit(tp.o.datatype).alias("o_datatype"), F.lit(tp.o.lang).alias("o_lang"),
            ]
        outs.append(match.where(svalid).select(*cols))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def _norm_triples(triples: DataFrame) -> DataFrame:
    """Internal convention: o_datatype/o_lang are NEVER null ('' for
    non-literals, xsd:string default for plain literals) so that the
    delta anti-join's equality keys behave (NULL = NULL would never
    match and every derived IRI triple would count as 'new' forever)."""
    return triples.select(
        "s", "p", "o_kind", "o_value",
        F.when(
            F.col("o_kind") == "literal",
            F.coalesce("o_datatype", F.lit(XSD_STRING)),
        ).otherwise(F.lit("")).alias("o_datatype"),
        F.coalesce("o_lang", F.lit("")).alias("o_lang"),
    )


def _denorm_triples(triples: DataFrame) -> DataFrame:
    """Back to the public schema: non-literal datatype is NULL."""
    return triples.select(
        "s", "p", "o_kind", "o_value",
        F.when(F.col("o_kind") == "literal", F.col("o_datatype")).alias("o_datatype"),
        "o_lang",
    )


def apply_jena_rules(
    triples: DataFrame, rules_text: str | list[Rule], max_iterations: int = 50
) -> DataFrame:
    """Forward-chain the rules to fixpoint over the triples DataFrame and
    return base ∪ deductions (the reference adds deductions to the primary
    model, `AbstractReasoningProcessor.java:31-47`). Raises
    ``SparqlUnsupported`` if round ``max_iterations`` still derives rows."""
    rules = parse_jena_rules(rules_text) if isinstance(rules_text, str) else rules_text

    # semi-naive: after round 1 any new derivation uses >=1 delta fact, so
    # each atom position scans the delta once. A rule with a noValue over
    # a growable predicate re-evaluates naively every round — negation
    # over a growing relation is non-monotonic, so a delta restriction
    # would miss rows whose noValue held only for older bindings (facts
    # never retract, matching Jena's forward semantics). Predicate-level
    # stratification: a noValue whose constant probe predicate no rule
    # head can produce reads a relation that never grows, so its rule
    # stays monotone and keeps the delta.
    head_var_pred = any(
        isinstance(tp.p, Var) for r in rules for tp in r.head
    )
    head_preds = {
        tp.p.value for r in rules for tp in r.head if isinstance(tp.p, Iri)
    }
    naive = [
        any(
            b.name == "noValue" and (
                head_var_pred
                or not isinstance(b.args[1], Iri)
                or b.args[1].value in head_preds
            )
            for b in r.builtins
        )
        for r in rules
    ]

    def rule(delta: DataFrame, all_rows: DataFrame, i: int) -> DataFrame:
        comp_all = _Compiler(all_rows)
        comp_delta = _Compiler(delta)
        news = []
        for ri, r in enumerate(rules):
            full = i == 1 or naive[ri]
            for pos in [None] if full else range(len(r.body)):
                match, bound = _body_df(comp_all, comp_delta, r.body, pos)
                match, bound = _apply_builtins(
                    comp_all, match, bound, r.builtins, f"{ri}:{r.name}"
                )
                news.append(_head_rows(match, bound, r.head))
        return reduce(DataFrame.unionByName, news)

    rows, converged = fixpoint(_norm_triples(triples), rule, max_iterations)
    if not converged:
        raise SparqlUnsupported(
            f"rule fixpoint did not converge in {max_iterations} rounds"
        )
    return _denorm_triples(rows)


def _construct_grouped(comp: _Compiler, q) -> tuple[DataFrame, set]:
    """CONSTRUCT with GROUP BY / HAVING (SPARQL 1.1 grammar gives
    CONSTRUCT the same SolutionModifier as SELECT; Jena evaluates it):
    the template instantiates once per group, so every template variable
    must be a group key — CONSTRUCT has no AS, so aggregate results
    cannot be templated, only gate groups through HAVING. Compiled by
    routing the WHERE + grouping through the shared SELECT machinery."""
    from ..sparql import SelectQuery, _select_df

    keys = {
        g[1] if isinstance(g, tuple) else g.name for g in q.group_by
    }
    tvars = sorted(_triple_vars(q.template))
    for v in tvars:
        if v not in keys:
            raise SparqlUnsupported(
                f"CONSTRUCT template variable ?{v} is not a GROUP BY key"
            )
    sel = SelectQuery(
        [(Var(v), v) for v in tvars], q.where,
        order=list(q.order), limit=q.limit, offset=q.offset,
        group_by=list(q.group_by), having=list(q.having),
    )
    match, names, _maybe = _select_df(comp, sel)
    return match, set(names)


def apply_construct(
    triples: DataFrame, query_text: str, max_iterations: int = 1
) -> DataFrame:
    """Apply a SPARQL CONSTRUCT up to ``max_iterations`` times, stopping
    early when an iteration adds nothing new — exactly the reference's
    loop (`SparqlConstructProcessor.java:39-55`). Returns base ∪ derived.

    Unlike the forward-rule fixpoint, each iteration evaluates the full
    pattern (the WHERE may contain OPTIONAL/FILTER, for which semi-naive
    deltas are not sound); callers wanting deep recursion should prefer
    ``apply_jena_rules``."""
    q = parse_construct(query_text)

    def rule(_delta: DataFrame, all_rows: DataFrame, _i: int) -> DataFrame:
        comp = _Compiler(all_rows)
        if q.group_by or q.having:
            match, bound = _construct_grouped(comp, q)
        else:
            match, bound = comp.group_df(q.where)
        # template blank nodes ([ ... ] / _:b → __bn vars, unbound in
        # the WHERE) mint one fresh bnode per solution (§16.2.1) —
        # deterministic per (var, row bindings), so a fixpoint's
        # anti-join dedups re-derivations instead of minting forever
        mint = sorted(
            v for v in _triple_vars(q.template)
            if v not in bound and v.startswith("__bn")
        )
        match = mint_bnodes(match, bound, mint, "_:c", "cbn/")
        bound = bound | set(mint)
        for tp in q.template:
            if not _triple_vars([tp]) <= bound:
                raise SparqlUnsupported(
                    "template variable not bound in WHERE"
                )
        if not (q.group_by or q.having):
            # ORDER BY/LIMIT/OFFSET slice the solution sequence before
            # the template instantiates (orderBy+limit → TakeOrdered);
            # the grouped path applies them inside _select_df
            if q.order:
                match = match.orderBy(*_order_keys(q.order, bound))
            if q.offset:
                match = match.offset(q.offset)
            if q.limit is not None:
                match = match.limit(q.limit)
        return _head_rows(match, bound, q.template)

    rows, _converged = fixpoint(_norm_triples(triples), rule, max_iterations)
    return _denorm_triples(rows)


#: RDFS entailment rules (W3C RDF 1.1 Semantics §9.2.1, the rules a KG
#: pipeline actually uses: property/class hierarchies and domain/range
#: typing — rdfs2, rdfs3, rdfs5, rdfs7, rdfs9, rdfs11).  Axiomatic
#: triples (rdfsD/rdfs1/4/6/8/10/12/13 container memberships and
#: self-subsumptions) are deliberately excluded: they add one row per
#: resource of pure noise at corpus scale and no downstream operator
#: reads them.
RDFS_RULES_TEXT = """
[rdfs5:  (?p <http://www.w3.org/2000/01/rdf-schema#subPropertyOf> ?q)
         (?q <http://www.w3.org/2000/01/rdf-schema#subPropertyOf> ?r)
      -> (?p <http://www.w3.org/2000/01/rdf-schema#subPropertyOf> ?r)]
[rdfs7:  (?p <http://www.w3.org/2000/01/rdf-schema#subPropertyOf> ?q)
         (?s ?p ?o)
      -> (?s ?q ?o)]
[rdfs2:  (?p <http://www.w3.org/2000/01/rdf-schema#domain> ?c)
         (?s ?p ?o)
      -> (?s <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> ?c)]
[rdfs3:  (?p <http://www.w3.org/2000/01/rdf-schema#range> ?c)
         (?s ?p ?o) isIRI(?o)
      -> (?o <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> ?c)]
[rdfs9:  (?c <http://www.w3.org/2000/01/rdf-schema#subClassOf> ?d)
         (?s <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> ?c)
      -> (?s <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> ?d)]
[rdfs11: (?c <http://www.w3.org/2000/01/rdf-schema#subClassOf> ?d)
         (?d <http://www.w3.org/2000/01/rdf-schema#subClassOf> ?e)
      -> (?c <http://www.w3.org/2000/01/rdf-schema#subClassOf> ?e)]
"""


_RDFS = "http://www.w3.org/2000/01/rdf-schema#"
_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_SC, _SP, _DOM, _RNG = (
    _RDFS + n for n in ("subClassOf", "subPropertyOf", "domain", "range")
)
_SCHEMA_PREDS = (_SC, _SP, _DOM, _RNG)

#: driver row cap of the schema-first RDFS plan: a schema with more
#: subClassOf/subPropertyOf/domain/range rows than this, or whose
#: closure and compiled rule table have more, runs the rule fixpoint
RDFS_SCHEMA_MAX_ROWS = 100_000


def _transitive_closure(pairs, cap: int):
    """rdfs5 / rdfs11 on the driver: a -> every c joined to it by a path
    of one or more edges, so a cycle puts a in its own set as the
    fixpoint derives (a, a). None once the closure outgrows ``cap``."""
    succ: dict[str, set[str]] = {}
    for a, b in pairs:
        succ.setdefault(a, set()).add(b)
    out: dict[str, set[str]] = {}
    size = 0
    for a, direct in succ.items():
        seen, stack = set(), list(direct)
        while stack:
            b = stack.pop()
            if b not in seen:
                seen.add(b)
                stack.extend(succ.get(b, ()))
        out[a] = seen
        size += len(seen)
        if size > cap:
            return None
    return out


def _rdfs_schema_plan(rows: DataFrame):
    """Collect and close the schema of normalized ``rows`` on the driver.

    Returns ``(rules, closed)``: ``rules`` maps a data row, keyed by
    (predicate, class) — the class is the object of an IRI ``rdf:type``
    row, '' otherwise — to what it entails in one step of the composed
    rules; ``closed`` is SC* and SP* as (s, p, o) rows. None when that
    one step would not equal the fixpoint (see ``apply_rdfs``)."""
    cap = RDFS_SCHEMA_MAX_ROWS
    got = (
        rows.where(F.col("p").isin(*_SCHEMA_PREDS))
        .select("s", "p", "o_kind", "o_value", "o_lang")
        .limit(cap + 1)
        .collect()
    )
    if len(got) > cap:
        return None
    reserved = set(_SCHEMA_PREDS) | {_RDF_TYPE}
    by_pred: dict[str, list] = {p: [] for p in _SCHEMA_PREDS}
    for s, p, kind, o, lang in got:
        if (
            kind != "iri" or lang or not s or not o
            or s.startswith("_:") or o.startswith("_:")
        ):
            return None
        if (p == _SP and o in reserved) or (p != _SC and s in reserved):
            return None
        by_pred[p].append((s, o))
    sc = _transitive_closure(by_pred[_SC], cap)  # rdfs11
    sp = _transitive_closure(by_pred[_SP], cap)  # rdfs5
    if sc is None or sp is None:
        return None
    subprops: dict[str, set[str]] = {}
    for p, qs in sp.items():
        for q in qs:
            subprops.setdefault(q, set()).add(p)
    # rdfs7: (s p o) -> (s q o) for every q in SP*(p)
    rules = {(p, "", "lift", q) for p, qs in sp.items() for q in qs}
    # rdfs2 / rdfs3 over the lifted rows, typed up the SC* chain (rdfs9)
    for op, pairs in (("subj", by_pred[_DOM]), ("obj", by_pred[_RNG])):
        for q, c in pairs:
            for p in subprops.get(q, set()) | {q}:
                rules.update((p, "", op, k) for k in sc.get(c, set()) | {c})
    # rdfs9 over the input's own rdf:type rows
    rules.update((_RDF_TYPE, c, "sup", d) for c, ds in sc.items() for d in ds)
    closed = [
        (a, pred, b)
        for pred, rel in ((_SC, sc), (_SP, sp))
        for a, bs in rel.items() for b in bs
    ]
    if len(rules) + len(closed) > cap:
        return None
    return sorted(rules), closed


def apply_rdfs(triples: DataFrame, max_iterations: int = 50) -> DataFrame:
    """Materialize the RDFS entailment closure (the six rules of
    ``RDFS_RULES_TEXT``) over the triples DataFrame: base ∪ entailed.

    Schema first (Urbani et al., ISWC 2009; Muñoz, Pérez & Gutierrez,
    J. Web Semantics 2009): the subClassOf/subPropertyOf/domain/range
    rows are ontology-sized, so they are collected and closed on the
    driver (rdfs11, rdfs5) and composed, in the fixed order rdfs7 →
    rdfs2/rdfs3 → rdfs9, into one rule table. The data then takes a
    single non-recursive pass: one broadcast join of every row against
    that table. rdfs3 types only IRI objects (a literal can never be a
    subject; Jena's RDFS reasoner guards the same way). No data
    fixpoint is needed because no entailed row can feed the schema.

    That holds under a guard; otherwise the input runs the semi-naive
    rule fixpoint (``apply_jena_rules``), which gives the same set when
    both apply. The fallback is taken when the schema, or its closure
    and rule table, has more than ``RDFS_SCHEMA_MAX_ROWS`` rows; a
    schema subject or object is not an IRI (a literal, a blank node,
    an empty or language-tagged term);
    a subPropertyOf object is a schema predicate or ``rdf:type``; or
    one of those five is the subject of a subPropertyOf, domain or
    range row. ``max_iterations`` bounds only that fallback's rounds.
    """
    rows = _norm_triples(triples).distinct().localCheckpoint(eager=True)
    plan = _rdfs_schema_plan(rows)
    if plan is None:
        return apply_jena_rules(rows, RDFS_RULES_TEXT,
                                max_iterations=max_iterations)
    import pandas as pd

    rules, closed = plan
    spark = rows.sparkSession
    # the two driver-side frames go through Arrow: frames built from
    # Python rows would start Python workers to unpickle them
    out = rows
    if rules:
        rule_df = spark.createDataFrame(
            pd.DataFrame(rules, columns=["p", "cls", "op", "val"]),
            "p string, cls string, op string, val string",
        )
        is_class = (
            (F.col("p") == _RDF_TYPE) & (F.col("o_kind") == "iri")
            & (F.col("o_lang") == "")
        )
        lift, on_obj = F.col("op") == "lift", F.col("op") == "obj"
        derived = (
            rows.withColumn(
                "cls", F.when(is_class, F.col("o_value")).otherwise(F.lit(""))
            )
            .join(F.broadcast(rule_df), ["p", "cls"])
            .where(~on_obj | (F.col("o_kind") == "iri"))
            .select(
                F.when(on_obj, F.col("o_value")).otherwise(F.col("s"))
                .alias("s"),
                F.when(lift, F.col("val")).otherwise(F.lit(_RDF_TYPE))
                .alias("p"),
                F.when(lift, F.col("o_kind")).otherwise(F.lit("iri"))
                .alias("o_kind"),
                F.when(lift, F.col("o_value")).otherwise(F.col("val"))
                .alias("o_value"),
                F.when(lift, F.col("o_datatype")).otherwise(F.lit(""))
                .alias("o_datatype"),
                F.when(lift, F.col("o_lang")).otherwise(F.lit(""))
                .alias("o_lang"),
            )
        )
        out = out.unionByName(derived)
    if closed:
        out = out.unionByName(
            spark.createDataFrame(
                pd.DataFrame(closed, columns=["s", "p", "o_value"]),
                "s string, p string, o_value string",
            ).select(
                "s", "p", F.lit("iri").alias("o_kind"), "o_value",
                F.lit("").alias("o_datatype"), F.lit("").alias("o_lang"),
            )
        )
    return _denorm_triples(out.distinct())
