"""Rule-text execution tests — ports of the reference's
`ForwardRuleReasoningProcessorTest.java` (5-chain transitive rule run to
fixpoint) and `SparqlConstructProcessorTest.java:36-120` (sequence-path
CONSTRUCT with maxIterations semantics)."""

from __future__ import annotations

import pytest

from abecto_spark.sparql import SparqlUnsupported
from abecto_spark.operators.rule_text import (
    apply_construct,
    apply_jena_rules,
    parse_jena_rules,
)

EX = "http://example.org/"
P1 = EX + "p1"
TRIPLES_DDL = (
    "s string, p string, o_kind string, o_value string,"
    " o_datatype string, o_lang string"
)


def _chain(spark):
    rows = [
        (EX + f"r{i}", P1, "iri", EX + f"r{i+1}", None, None) for i in range(1, 6)
    ]
    return spark.createDataFrame(rows, TRIPLES_DDL)


def _pairs(df):
    return {
        (r["s"], r["o_value"])
        for r in df.where(df.p == P1).collect()
    }


def test_forward_rules_fixpoint(spark):
    # `ForwardRuleReasoningProcessorTest.java:49-66`
    rules = f"[rule1: (?s <{P1}> ?t) (?t <{P1}> ?o) -> (?s <{P1}> ?o)]"
    out = apply_jena_rules(_chain(spark), rules)
    got = _pairs(out)
    expect = {
        (EX + f"r{i}", EX + f"r{j}") for i in range(1, 6) for j in range(i + 1, 7)
    }
    assert got == expect


def test_construct_max_iterations(spark):
    # `SparqlConstructProcessorTest.java:47-120`: path <p1>/<p1>, the
    # 1-iteration result adds exactly the 2-hop pairs; 2 iterations the
    # 3- and 4-hop pairs as well
    q = f"CONSTRUCT {{?s <{P1}> ?o}} WHERE {{?s <{P1}>/<{P1}> ?o}}"
    base = _chain(spark)

    out1 = _pairs(apply_construct(base, q, max_iterations=1))
    assert (EX + "r1", EX + "r3") in out1
    assert (EX + "r2", EX + "r4") in out1
    assert (EX + "r1", EX + "r4") not in out1
    assert (EX + "r1", EX + "r5") not in out1

    out2 = _pairs(apply_construct(base, q, max_iterations=2))
    assert (EX + "r1", EX + "r4") in out2
    assert (EX + "r1", EX + "r5") in out2
    # 2^2 = 4 hops reachable after two doublings; r1→r6 needs 5 hops? no:
    # after iter1 edges cover hops {1,2}; iter2 pairs sums {2,3,4} → r1→r5
    # (4 hops) yes, r1→r6 (5 hops) not yet
    assert (EX + "r1", EX + "r6") not in out2

    out3 = _pairs(apply_construct(base, q, max_iterations=5))
    assert (EX + "r1", EX + "r6") in out3


def test_multi_rule_program_and_prefix(spark):
    rows = [
        (EX + "s1", EX + "loc", "iri", EX + "n1", None, None),
        (EX + "n1", EX + "loc", "iri", EX + "reg1", None, None),
        (EX + "reg1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
         "iri", EX + "Region", None, None),
    ]
    triples = spark.createDataFrame(rows, TRIPLES_DDL)
    rules = f"""
        PREFIX ex: <{EX}>
        [tc: (?a ex:loc ?b) (?b ex:loc ?c) -> (?a ex:loc ?c)]
        [reg: (?a ex:loc ?r) (?r a ex:Region) -> (?a ex:inRegion ?r)]
    """
    out = apply_jena_rules(triples, rules)
    loc = {(r["s"], r["o_value"]) for r in out.where(out.p == EX + "loc").collect()}
    reg = {(r["s"], r["o_value"]) for r in out.where(out.p == EX + "inRegion").collect()}
    assert (EX + "s1", EX + "reg1") in loc  # transitive
    assert reg == {(EX + "s1", EX + "reg1"), (EX + "n1", EX + "reg1")}


def test_rule_head_literal_object(spark):
    rows = [(EX + "x", EX + "p", "iri", EX + "y", None, None)]
    triples = spark.createDataFrame(rows, TRIPLES_DDL)
    out = apply_jena_rules(
        triples, f'[(?a <{EX}p> ?b) -> (?a <{EX}tag> "seen")]'
    )
    tag = out.where(out.p == EX + "tag").collect()
    assert len(tag) == 1
    assert tag[0]["o_kind"] == "literal"
    assert tag[0]["o_value"] == "seen"
    assert tag[0]["o_datatype"].endswith("#string")


def test_rule_parse_errors():
    with pytest.raises(SparqlUnsupported):
        parse_jena_rules("[(?a <p> ?b) -> (?a <q> ?c)]")  # unbound head var
    with pytest.raises(SparqlUnsupported):
        parse_jena_rules("[(?a <p> ?b) noValue(?a) -> (?a <q> ?b)]")  # builtin
    with pytest.raises(SparqlUnsupported):
        parse_jena_rules("just words")


# ---------------------------------------------------------------------------
# round-4 builtins: noValue / regex (`ForwardRuleReasoningProcessor.java:33-44`
# delegates to GenericRuleReasoner, whose rule grammar admits builtins)


def test_rule_novalue_builtin(spark):
    rows = [
        (EX + "a", EX + "type", "iri", EX + "T", None, None),
        (EX + "b", EX + "type", "iri", EX + "T", None, None),
        (EX + "a", EX + "has", "iri", EX + "x", None, None),
    ]
    triples = spark.createDataFrame(rows, TRIPLES_DDL)
    out = apply_jena_rules(
        triples,
        f"[nv: (?s <{EX}type> <{EX}T>) noValue(?s <{EX}has> ?v)"
        f" -> (?s <{EX}flag> <{EX}Missing>)]",
    )
    flagged = {r["s"] for r in out.where(out.p == EX + "flag").collect()}
    assert flagged == {EX + "b"}  # a has a <has> value, b does not


def test_rule_novalue_two_arg_form_and_constant_object(spark):
    rows = [
        (EX + "a", EX + "type", "iri", EX + "T", None, None),
        (EX + "b", EX + "type", "iri", EX + "T", None, None),
        (EX + "a", EX + "has", "iri", EX + "x", None, None),
        (EX + "b", EX + "has", "iri", EX + "y", None, None),
    ]
    triples = spark.createDataFrame(rows, TRIPLES_DDL)
    # 3-arg form with a constant object: b has <has> but not <has> x
    out = apply_jena_rules(
        triples,
        f"[nv: (?s <{EX}type> <{EX}T>) noValue(?s <{EX}has> <{EX}x>)"
        f" -> (?s <{EX}flag> <{EX}NoX>)]",
    )
    flagged = {r["s"] for r in out.where(out.p == EX + "flag").collect()}
    assert flagged == {EX + "b"}


def test_rule_regex_builtin_full_match(spark):
    rows = [
        (EX + "a", EX + "label", "literal", "abc-1", None, ""),
        (EX + "b", EX + "label", "literal", "xbc-2", None, ""),
        (EX + "c", EX + "label", "literal", "abc-1-tail", None, ""),
    ]
    triples = spark.createDataFrame(rows, TRIPLES_DDL)
    out = apply_jena_rules(
        triples,
        f'[rg: (?s <{EX}label> ?l) regex(?l, "abc-[0-9]")'
        f" -> (?s <{EX}flag> <{EX}Hit>)]",
    )
    flagged = {r["s"] for r in out.where(out.p == EX + "flag").collect()}
    # Jena's regex is a full match: the -tail row must not match
    assert flagged == {EX + "a"}


def test_rule_novalue_with_derived_facts_is_round_evaluated(spark):
    """noValue rules re-evaluate naively per round: once another rule
    derives the probed predicate, no NEW noValue conclusions appear for
    those bindings (existing conclusions never retract — Jena forward
    semantics)."""
    rows = [
        (EX + "a", EX + "src", "iri", EX + "x", None, None),
    ]
    triples = spark.createDataFrame(rows, TRIPLES_DDL)
    out = apply_jena_rules(
        triples,
        f"""
        [mk: (?s <{EX}src> ?v) -> (?s <{EX}has> ?v)]
        [nv: (?s <{EX}src> ?v) noValue(?s <{EX}has> ?v)
             -> (?s <{EX}flag> <{EX}Missing>)]
        """,
    )
    # round 1 evaluates both rules on the base state: <has> does not
    # exist yet, so the flag IS derived (and never retracted), exactly
    # like Jena's simultaneous forward pass
    flagged = {r["s"] for r in out.where(out.p == EX + "flag").collect()}
    assert flagged == {EX + "a"}
    has = {r["s"] for r in out.where(out.p == EX + "has").collect()}
    assert has == {EX + "a"}


def test_rule_novalue_static_predicate_keeps_delta(spark):
    """Predicate-level stratification: when the noValue probe predicate
    is never produced by any rule head, the probed relation is static
    and the rule keeps the semi-naive delta — conclusions gated by the
    noValue must still appear for facts derived in LATE rounds (reach
    grows one hop per round here)."""
    rows = [
        (EX + "a", EX + "next", "iri", EX + "b", None, ""),
        (EX + "b", EX + "next", "iri", EX + "c", None, ""),
        (EX + "c", EX + "next", "iri", EX + "d", None, ""),
        (EX + "a", EX + "blocked", "iri", EX + "c", None, ""),
    ]
    t = spark.createDataFrame(rows, TRIPLES_DDL)
    out = apply_jena_rules(
        t,
        f"[r1: (?x <{EX}next> ?y) -> (?x <{EX}reach> ?y)]"
        f"[r2: (?x <{EX}reach> ?y) (?y <{EX}next> ?z)"
        f" -> (?x <{EX}reach> ?z)]"
        f"[f: (?x <{EX}reach> ?y) noValue(?x <{EX}blocked> ?y)"
        f" -> (?x <{EX}ok> ?y)]",
    )
    ok = {
        (r["s"], r["o_value"]) for r in out.where(out.p == EX + "ok").collect()
    }
    reach = {
        (EX + "a", EX + "b"), (EX + "a", EX + "c"), (EX + "a", EX + "d"),
        (EX + "b", EX + "c"), (EX + "b", EX + "d"), (EX + "c", EX + "d"),
    }
    # a->d is a round-3 reach fact: the delta-restricted noValue rule
    # must still fire on it; only the base-blocked a->c pair is gated
    assert ok == reach - {(EX + "a", EX + "c")}


def test_rule_builtin_parse_errors():
    with pytest.raises(SparqlUnsupported, match="share a variable"):
        parse_jena_rules(
            f"[(?a <{EX}p> ?b) noValue(<{EX}x> <{EX}q> <{EX}y>)"
            f" -> (?a <{EX}r> ?b)]"
        )
    with pytest.raises(SparqlUnsupported, match="regex"):
        parse_jena_rules(
            f"[(?a <{EX}p> ?b) regex(?b) -> (?a <{EX}r> ?b)]"
        )
    with pytest.raises(SparqlUnsupported, match="bound in the body"):
        parse_jena_rules(
            f'[(?a <{EX}p> ?b) regex(?zz, "x") -> (?a <{EX}r> ?b)]'
        )


# round-5 comparison/test builtins (`ForwardRuleReasoningProcessor.java:33-44`
# accepts any GenericRuleReasoner builtin in rule text)


def _num_graph(spark):
    XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
    rows = [
        (EX + "a", EX + "val", "literal", "3", XSD_INT, ""),
        (EX + "b", EX + "val", "literal", "7", XSD_INT, ""),
        (EX + "c", EX + "val", "literal", "07.0", XSD_INT, ""),
        (EX + "d", EX + "val", "iri", EX + "notanumber", None, ""),
        (EX + "e", EX + "val", "literal", "oops", None, ""),
    ]
    return spark.createDataFrame(rows, TRIPLES_DDL)


def _flagged(out, flag):
    return {r["s"] for r in out.where(out.p == EX + flag).collect()}


def test_rule_lessthan_greaterthan_le_ge(spark):
    t = _num_graph(spark)
    out = apply_jena_rules(
        t,
        f"[lt: (?s <{EX}val> ?v) lessThan(?v, 5) -> (?s <{EX}lt> <{EX}Y>)]"
        f"[gt: (?s <{EX}val> ?v) greaterThan(?v, 5) -> (?s <{EX}gt> <{EX}Y>)]"
        f"[le: (?s <{EX}val> ?v) le(?v, 7) -> (?s <{EX}le> <{EX}Y>)]"
        f"[ge: (?s <{EX}val> ?v) ge(?v, 7) -> (?s <{EX}ge> <{EX}Y>)]",
    )
    # non-numeric values (IRI, 'oops') never satisfy a comparison
    assert _flagged(out, "lt") == {EX + "a"}
    assert _flagged(out, "gt") == {EX + "b", EX + "c"}  # 07.0 == 7 > 5
    assert _flagged(out, "le") == {EX + "a", EX + "b", EX + "c"}
    assert _flagged(out, "ge") == {EX + "b", EX + "c"}


def test_rule_equal_notequal_semantics(spark):
    t = _num_graph(spark)
    # equal: term identity OR numeric value equality ('07.0' equals 7)
    out = apply_jena_rules(
        t,
        f"[eq: (?s <{EX}val> ?v) equal(?v, 7) -> (?s <{EX}eq> <{EX}Y>)]"
        f"[ne: (?s <{EX}val> ?v) notEqual(?v, 7) -> (?s <{EX}ne> <{EX}Y>)]",
    )
    assert _flagged(out, "eq") == {EX + "b", EX + "c"}
    # notEqual is the exact complement, including non-numeric terms
    assert _flagged(out, "ne") == {EX + "a", EX + "d", EX + "e"}
    # term-identity branch: IRIs compare equal to themselves
    out2 = apply_jena_rules(
        t,
        f"[eqi: (?s <{EX}val> ?v) equal(?v, <{EX}notanumber>)"
        f" -> (?s <{EX}eqi> <{EX}Y>)]",
    )
    assert _flagged(out2, "eqi") == {EX + "d"}


def test_rule_term_test_builtins(spark):
    t = _num_graph(spark)
    rows_b = [(EX + "f", EX + "val", "bnode", "_:x", None, "")]
    t = t.unionByName(spark.createDataFrame(rows_b, TRIPLES_DDL))
    out = apply_jena_rules(
        t,
        f"[l: (?s <{EX}val> ?v) isLiteral(?v) -> (?s <{EX}lit> <{EX}Y>)]"
        f"[i: (?s <{EX}val> ?v) isIRI(?v) -> (?s <{EX}iri> <{EX}Y>)]"
        f"[u: (?s <{EX}val> ?v) isURI(?v) -> (?s <{EX}uri> <{EX}Y>)]"
        f"[n: (?s <{EX}val> ?v) isBNode(?v) -> (?s <{EX}bn> <{EX}Y>)]"
        f"[b: (?s <{EX}val> ?v) bound(?v) -> (?s <{EX}bnd> <{EX}Y>)]",
    )
    lits = {EX + "a", EX + "b", EX + "c", EX + "e"}
    assert _flagged(out, "lit") == lits
    assert _flagged(out, "iri") == {EX + "d"}
    assert _flagged(out, "uri") == {EX + "d"}
    assert _flagged(out, "bn") == {EX + "f"}
    # body-bound variables are always bound in a forward rule
    assert _flagged(out, "bnd") == lits | {EX + "d", EX + "f"}


def test_rule_dtype_and_noop_builtins(spark):
    """isDType/notDType follow Jena's dt.isValidLiteral (tag match plus
    numeric lexical validity); print/table/tableAll/hide are accepted
    trace/tabling hints with no forward-pass effect."""
    XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
    t = _num_graph(spark)
    out = apply_jena_rules(
        t,
        f"[d: (?s <{EX}val> ?v) isDType(?v, <{XSD_INT}>)"
        f" -> (?s <{EX}int> <{EX}Y>)]"
        f"[n: (?s <{EX}val> ?v) notDType(?v, <{XSD_INT}>)"
        f" -> (?s <{EX}ni> <{EX}Y>)]"
        f"[p: (?s <{EX}val> ?v) print(?s, ?v) table(<{EX}val>) tableAll()"
        f" hide(<{EX}val>) -> (?s <{EX}pr> <{EX}Y>)]",
    )
    # c carries "07.0"^^xsd:integer — tagged integer but lexically
    # invalid, so isDType rejects it (Jena: ill-typed literal)
    assert _flagged(out, "int") == {EX + "a", EX + "b"}
    # notDType: literals of other/no/ill datatype AND non-literals
    assert _flagged(out, "ni") == {EX + "c", EX + "d", EX + "e"}
    assert _flagged(out, "pr") == {
        EX + "a", EX + "b", EX + "c", EX + "d", EX + "e"
    }
    # double validity follows the XSD grammar (INF/NaN/exponent forms),
    # decimal's has no exponent
    XSD_DBL = "http://www.w3.org/2001/XMLSchema#double"
    XSD_DEC = "http://www.w3.org/2001/XMLSchema#decimal"
    rows2 = [
        (EX + "g", EX + "val", "literal", "INF", XSD_DBL, ""),
        (EX + "h", EX + "val", "literal", "1.5e3", XSD_DBL, ""),
        (EX + "i", EX + "val", "literal", "oops", XSD_DBL, ""),
        (EX + "j", EX + "val", "literal", "1.5e3", XSD_DEC, ""),
        (EX + "k", EX + "val", "literal", "1.50", XSD_DEC, ""),
    ]
    t2 = spark.createDataFrame(rows2, TRIPLES_DDL)
    out2 = apply_jena_rules(
        t2,
        f"[d: (?s <{EX}val> ?v) isDType(?v, <{XSD_DBL}>)"
        f" -> (?s <{EX}dbl> <{EX}Y>)]"
        f"[e: (?s <{EX}val> ?v) isDType(?v, <{XSD_DEC}>)"
        f" -> (?s <{EX}dec> <{EX}Y>)]",
    )
    assert _flagged(out2, "dbl") == {EX + "g", EX + "h"}
    assert _flagged(out2, "dec") == {EX + "k"}
    with pytest.raises(SparqlUnsupported, match="datatype-IRI"):
        parse_jena_rules(
            f"[(?a <{EX}p> ?b) isDType(?b) -> (?a <{EX}q> ?b)]"
        )


def test_rule_comparison_parse_errors():
    with pytest.raises(SparqlUnsupported, match="exactly 2"):
        parse_jena_rules(
            f"[(?a <{EX}p> ?b) lessThan(?b) -> (?a <{EX}q> ?b)]"
        )
    with pytest.raises(SparqlUnsupported, match="exactly 1"):
        parse_jena_rules(
            f"[(?a <{EX}p> ?b) isLiteral(?a, ?b) -> (?a <{EX}q> ?b)]"
        )
    with pytest.raises(SparqlUnsupported, match="not bound"):
        parse_jena_rules(
            f"[(?a <{EX}p> ?b) ge(?zz, 3) -> (?a <{EX}q> ?b)]"
        )


def test_rule_comparison_time_instants(spark):
    """Jena's lessThan family compares time instants too — date/dateTime
    literal values compare as epoch instants."""
    XSD_DATE = "http://www.w3.org/2001/XMLSchema#date"
    rows = [
        (EX + "old", EX + "when", "literal", "2001-05-15", XSD_DATE, ""),
        (EX + "new", EX + "when", "literal", "2026-01-02", XSD_DATE, ""),
        (EX + "exact", EX + "when", "literal",
         "2026-01-02 00:00:00", XSD_DATE, ""),
    ]
    t = spark.createDataFrame(rows, TRIPLES_DDL)
    out = apply_jena_rules(
        t,
        f'[old: (?s <{EX}when> ?d) lessThan(?d, "2010-01-01")'
        f" -> (?s <{EX}flag> <{EX}Old>)]"
        f'[eq: (?s <{EX}when> ?d) equal(?d, "2026-01-02")'
        f" -> (?s <{EX}flag2> <{EX}Same>)]",
    )
    assert _flagged(out, "flag") == {EX + "old"}
    # value equality via the instant view: midnight timestamp == date
    assert _flagged(out, "flag2") == {EX + "new", EX + "exact"}


def test_construct_solution_modifiers(spark):
    """ORDER BY / LIMIT / OFFSET slice the solution sequence before the
    template instantiates (SPARQL 1.1 ConstructQuery SolutionModifier)."""
    from abecto_spark.operators.rule_text import apply_construct

    ex = "http://example.org/"
    rows = [
        (ex + "a", ex + "v", "literal", "1",
         "http://www.w3.org/2001/XMLSchema#integer", ""),
        (ex + "b", ex + "v", "literal", "2",
         "http://www.w3.org/2001/XMLSchema#integer", ""),
        (ex + "c", ex + "v", "literal", "3",
         "http://www.w3.org/2001/XMLSchema#integer", ""),
    ]
    ddl = ("s string, p string, o_kind string, o_value string,"
           " o_datatype string, o_lang string")
    t = spark.createDataFrame(rows, ddl)
    top = apply_construct(
        t,
        f"CONSTRUCT {{ ?s <{ex}top> ?o }} WHERE {{ ?s <{ex}v> ?o }}"
        " ORDER BY DESC(?o) LIMIT 1",
    )
    assert [r["s"] for r in
            top.where(f"p = '{ex}top'").collect()] == [ex + "c"]
    mid = apply_construct(
        t,
        f"CONSTRUCT {{ ?s <{ex}mid> ?o }} WHERE {{ ?s <{ex}v> ?o }}"
        " ORDER BY ?o OFFSET 1 LIMIT 1",
    )
    assert [r["s"] for r in
            mid.where(f"p = '{ex}mid'").collect()] == [ex + "b"]


def test_construct_group_by_having(spark):
    """GROUP BY / HAVING on CONSTRUCT (the last SolutionModifier corner):
    the template instantiates once per surviving group; template
    variables must be group keys."""
    ex = "http://example.org/"
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    rows = [
        (ex + "a", ex + "v", "literal", "1", xsd_int, ""),
        (ex + "a", ex + "v", "literal", "2", xsd_int, ""),
        (ex + "b", ex + "v", "literal", "3", xsd_int, ""),
        (ex + "b", ex + "v", "literal", "4", xsd_int, ""),
        (ex + "b", ex + "v", "literal", "5", xsd_int, ""),
        (ex + "c", ex + "v", "literal", "6", xsd_int, ""),
    ]
    t = spark.createDataFrame(rows, TRIPLES_DDL)
    out = apply_construct(
        t,
        f"CONSTRUCT {{ ?s <{ex}multi> \"yes\" }}"
        f" WHERE {{ ?s <{ex}v> ?o }} GROUP BY ?s HAVING(COUNT(?o) >= 2)",
    )
    flagged = sorted(
        r["s"] for r in out.where(out.p == ex + "multi").collect()
    )
    assert flagged == [ex + "a", ex + "b"]  # c has only one value
    # the base triples survive untouched
    assert out.where(out.p == ex + "v").count() == 6
    # HAVING over SUM, plus ORDER/LIMIT after grouping
    top = apply_construct(
        t,
        f"CONSTRUCT {{ ?s <{ex}big> \"yes\" }}"
        f" WHERE {{ ?s <{ex}v> ?o }} GROUP BY ?s HAVING(SUM(?o) >= 3)"
        f" ORDER BY DESC(?s) LIMIT 1",
    )
    assert [r["s"] for r in top.where(top.p == ex + "big").collect()] == [
        ex + "c"
    ]
    # a template variable that is not a group key is loud
    with pytest.raises(SparqlUnsupported, match="not a GROUP BY key"):
        apply_construct(
            t,
            f"CONSTRUCT {{ ?s <{ex}x> ?o }}"
            f" WHERE {{ ?s <{ex}v> ?o }} GROUP BY ?s",
        )
    # constant-only template + HAVING over the implicit group: the flag
    # triple is emitted iff the whole solution set passes the gate
    gate = (
        f"CONSTRUCT {{ <{ex}flag> <{ex}is> \"set\" }}"
        f" WHERE {{ ?s <{ex}v> ?o }} HAVING(COUNT(?o) > %d)"
    )
    assert apply_construct(t, gate % 5).where(
        f"p = '{ex}is'"
    ).count() == 1
    assert apply_construct(t, gate % 6).where(
        f"p = '{ex}is'"
    ).count() == 0


# round-5 binding builtins (sum/difference/product/quotient/min/max/
# addOne/strConcat/uriConcat/makeTemp) — Jena BaseBuiltin.bind: bind
# the last argument when unbound, else act as an equality check


XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
XSD_DBL = "http://www.w3.org/2001/XMLSchema#double"


def _obj(out, pred):
    return sorted(
        (r["s"], r["o_kind"], r["o_value"], r["o_datatype"])
        for r in out.where(out.p == EX + pred).collect()
    )


def _xy_graph(spark):
    rows = [
        (EX + "a", EX + "x", "literal", "6", XSD_INT, ""),
        (EX + "a", EX + "y", "literal", "4", XSD_INT, ""),
        (EX + "b", EX + "x", "literal", "2.5", XSD_DBL, ""),
        (EX + "b", EX + "y", "literal", "4", XSD_INT, ""),
        (EX + "c", EX + "x", "literal", "oops", None, ""),
        (EX + "c", EX + "y", "literal", "1", XSD_INT, ""),
    ]
    return spark.createDataFrame(rows, TRIPLES_DDL)


def test_rule_arith_builtins(spark):
    t = _xy_graph(spark)
    out = apply_jena_rules(
        t,
        f"[s: (?s <{EX}x> ?a) (?s <{EX}y> ?b) sum(?a, ?b, ?c)"
        f" -> (?s <{EX}sum> ?c)]"
        f"[d: (?s <{EX}x> ?a) (?s <{EX}y> ?b) difference(?a, ?b, ?c)"
        f" -> (?s <{EX}diff> ?c)]"
        f"[p: (?s <{EX}x> ?a) (?s <{EX}y> ?b) product(?a, ?b, ?c)"
        f" -> (?s <{EX}prod> ?c)]"
        f"[q: (?s <{EX}x> ?a) (?s <{EX}y> ?b) quotient(?a, ?b, ?c)"
        f" -> (?s <{EX}quot> ?c)]"
        f"[mn: (?s <{EX}x> ?a) (?s <{EX}y> ?b) min(?a, ?b, ?c)"
        f" -> (?s <{EX}min> ?c)]"
        f"[mx: (?s <{EX}x> ?a) (?s <{EX}y> ?b) max(?a, ?b, ?c)"
        f" -> (?s <{EX}max> ?c)]"
        f"[i: (?s <{EX}y> ?b) addOne(?b, ?c) -> (?s <{EX}inc> ?c)]",
    )
    # integer arithmetic when both inputs integral; double otherwise;
    # non-numeric input ('oops') fails the builtin — no row for c
    assert _obj(out, "sum") == [
        (EX + "a", "literal", "10", XSD_INT),
        (EX + "b", "literal", "6.5", XSD_DBL),
    ]
    assert _obj(out, "diff") == [
        (EX + "a", "literal", "2", XSD_INT),
        (EX + "b", "literal", "-1.5", XSD_DBL),
    ]
    assert _obj(out, "prod") == [
        (EX + "a", "literal", "24", XSD_INT),
        (EX + "b", "literal", "10.0", XSD_DBL),
    ]
    # integer quotient truncates toward zero (Java long division)
    assert _obj(out, "quot") == [
        (EX + "a", "literal", "1", XSD_INT),
        (EX + "b", "literal", "0.625", XSD_DBL),
    ]
    assert _obj(out, "min") == [
        (EX + "a", "literal", "4", XSD_INT),
        (EX + "b", "literal", "2.5", XSD_DBL),
    ]
    assert _obj(out, "max") == [
        (EX + "a", "literal", "6", XSD_INT),
        (EX + "b", "literal", "4.0", XSD_DBL),
    ]
    assert _obj(out, "inc") == [
        (EX + "a", "literal", "5", XSD_INT),
        (EX + "b", "literal", "5", XSD_INT),
        (EX + "c", "literal", "2", XSD_INT),
    ]


def test_rule_quotient_by_zero_fails_builtin(spark):
    rows = [
        (EX + "a", EX + "x", "literal", "6", XSD_INT, ""),
        (EX + "a", EX + "y", "literal", "0", XSD_INT, ""),
    ]
    t = spark.createDataFrame(rows, TRIPLES_DDL)
    out = apply_jena_rules(
        t,
        f"[q: (?s <{EX}x> ?a) (?s <{EX}y> ?b) quotient(?a, ?b, ?c)"
        f" -> (?s <{EX}quot> ?c)]",
    )
    assert _obj(out, "quot") == []


def test_rule_concat_builtins(spark):
    t = _xy_graph(spark)
    out = apply_jena_rules(
        t,
        f'[sc: (?s <{EX}x> ?a) strConcat("v=", ?a, ?c)'
        f" -> (?s <{EX}tag> ?c)]"
        f'[uc: (?s <{EX}x> ?a) uriConcat("{EX}u/", ?a, ?c)'
        f" -> (?s <{EX}uri> ?c)]",
    )
    xsd_str = "http://www.w3.org/2001/XMLSchema#string"
    assert _obj(out, "tag") == [
        (EX + "a", "literal", "v=6", xsd_str),
        (EX + "b", "literal", "v=2.5", xsd_str),
        (EX + "c", "literal", "v=oops", xsd_str),
    ]
    assert _obj(out, "uri") == [
        (EX + "a", "iri", EX + "u/6", None),
        (EX + "b", "iri", EX + "u/2.5", None),
        (EX + "c", "iri", EX + "u/oops", None),
    ]


def test_rule_binding_feeds_later_builtin_and_check_mode(spark):
    t = _xy_graph(spark)
    # sum binds ?c, then lessThan filters on it (written-order evaluation)
    out = apply_jena_rules(
        t,
        f"[s: (?s <{EX}x> ?a) (?s <{EX}y> ?b) sum(?a, ?b, ?c)"
        f" lessThan(?c, 8) -> (?s <{EX}small> ?c)]",
    )
    assert _obj(out, "small") == [(EX + "b", "literal", "6.5", XSD_DBL)]
    # check mode: last argument a constant — equality check on the result
    out2 = apply_jena_rules(
        t,
        f"[k: (?s <{EX}x> ?a) (?s <{EX}y> ?b) sum(?a, ?b, 10)"
        f" -> (?s <{EX}ten> <{EX}Y>)]",
    )
    assert _obj(out2, "ten") == [(EX + "a", "iri", EX + "Y", None)]


def test_rule_maketemp(spark):
    rows = [
        (EX + "a", EX + "x", "literal", "1", XSD_INT, ""),
        (EX + "b", EX + "x", "literal", "2", XSD_INT, ""),
    ]
    t = spark.createDataFrame(rows, TRIPLES_DDL)
    out = apply_jena_rules(
        t,
        f"[mt: (?s <{EX}x> ?v) makeTemp(?t)"
        f" -> (?s <{EX}temp> ?t) (?t <{EX}of> ?s)]",
    )
    temps = {r["s"]: r["o_value"]
             for r in out.where(out.p == EX + "temp").collect()}
    # one fresh bnode per match, distinct across matches
    assert set(temps) == {EX + "a", EX + "b"}
    assert all(v.startswith("_:mt") for v in temps.values())
    assert temps[EX + "a"] != temps[EX + "b"]
    # the bnode is usable as a head subject
    backs = {(r["s"], r["o_value"])
             for r in out.where(out.p == EX + "of").collect()}
    assert backs == {(temps[EX + "a"], EX + "a"), (temps[EX + "b"], EX + "b")}
    # deterministic labels ⇒ the fixpoint terminated in one derivation
    # round (re-derivation dedups instead of minting forever)
    assert out.where(out.p == EX + "temp").count() == 2


def test_rule_binding_builtin_parse_errors():
    with pytest.raises(SparqlUnsupported, match="exactly 3"):
        parse_jena_rules(
            f"[(?a <{EX}p> ?b) sum(?b, ?b) -> (?a <{EX}q> ?b)]"
        )
    with pytest.raises(SparqlUnsupported, match="not bound"):
        parse_jena_rules(
            f"[(?a <{EX}p> ?b) sum(?zz, ?b, ?c) -> (?a <{EX}q> ?c)]"
        )
    with pytest.raises(SparqlUnsupported, match="unbound variables"):
        parse_jena_rules(
            f"[(?a <{EX}p> ?b) makeTemp(?b) -> (?a <{EX}q> ?b)]"
        )
    # a builtin-bound variable satisfies the head-coverage check
    rules = parse_jena_rules(
        f"[(?a <{EX}p> ?b) addOne(?b, ?c) -> (?a <{EX}q> ?c)]"
    )
    assert len(rules) == 1
    # ... but an unrelated unbound head variable still errors
    with pytest.raises(SparqlUnsupported, match="head variable"):
        parse_jena_rules(
            f"[(?a <{EX}p> ?b) addOne(?b, ?c) -> (?a <{EX}q> ?zz)]"
        )


def test_construct_template_mints_bnodes(spark):
    """§16.2.1: blank nodes in a CONSTRUCT template ([ ... ] / _:b)
    mint one fresh bnode per solution, deterministic per bindings so a
    maxIterations fixpoint terminates."""
    ex = "http://example.org/"
    xs = "http://www.w3.org/2001/XMLSchema#"
    rows = [(ex + "a", ex + "name", "literal", "A", xs + "string", ""),
            (ex + "b", ex + "name", "literal", "B", xs + "string", "")]
    t = spark.createDataFrame(rows, TRIPLES_DDL)
    q = (f"CONSTRUCT {{ ?s <{ex}card> [ <{ex}label> ?n ] }}"
         f" WHERE {{ ?s <{ex}name> ?n }}")
    out = apply_construct(t, q)
    cards = {(r["s"], r["o_value"]) for r in
             out.where(out.p == ex + "card").collect()}
    labels = {(r["s"], r["o_value"]) for r in
              out.where(out.p == ex + "label").collect()}
    # one distinct bnode per solution, linked subject -> bnode -> label
    assert len(cards) == 2 and len({b for _, b in cards}) == 2
    assert {(b, n) for _, b in cards for bb, n in labels if bb == b} == {
        (b, {"a": "A", "b": "B"}[s.rsplit("/", 1)[-1]]) for s, b in cards
    }
    # fixpoint: re-running mints identical bnodes, so nothing new
    assert apply_construct(t, q, max_iterations=4).count() == out.count()


def test_construct_where_shorthand(spark):
    """SPARQL 1.1 par.10.2.3: ``CONSTRUCT WHERE { BGP }`` uses the WHERE
    group as the template; modifiers still apply; non-BGP bodies are
    rejected per the grammar."""
    import pytest

    from abecto_spark.operators.rule_text import apply_construct
    from abecto_spark.sparql import SparqlUnsupported

    ex = "http://example.org/"
    rows = [
        (ex + "a", ex + "v", "iri", ex + "x", None, ""),
        (ex + "b", ex + "w", "iri", ex + "y", None, ""),
    ]
    ddl = ("s string, p string, o_kind string, o_value string,"
           " o_datatype string, o_lang string")
    t = spark.createDataFrame(rows, ddl)
    out = apply_construct(t, f"CONSTRUCT WHERE {{ ?s <{ex}v> ?o }}")
    # identity template: result == base ∪ matched subset == base's v-rows
    got = {(r["s"], r["p"], r["o_value"]) for r in out.collect()}
    assert (ex + "a", ex + "v", ex + "x") in got
    # a LIMIT after the shorthand group applies as a solution modifier
    lim = apply_construct(
        t, f"CONSTRUCT WHERE {{ ?s ?p ?o }} ORDER BY ?s LIMIT 1"
    )
    assert lim.count() == len(rows)  # base ∪ {first solution} == base
    with pytest.raises(SparqlUnsupported):
        apply_construct(
            t,
            f"CONSTRUCT WHERE {{ ?s <{ex}v> ?o FILTER(?s = <{ex}a>) }}",
        )


# ---------------------------------------------------------------------------
# RDFS entailment closure


def test_apply_rdfs_hand_traced(spark):
    from abecto_spark.operators.rule_text import apply_rdfs

    RT = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    SC = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
    SP = "http://www.w3.org/2000/01/rdf-schema#subPropertyOf"
    DOM = "http://www.w3.org/2000/01/rdf-schema#domain"
    RNG = "http://www.w3.org/2000/01/rdf-schema#range"
    ddl = ("s string, p string, o_kind string, o_value string,"
           " o_datatype string, o_lang string")
    base = [
        ("ex:A", SC, "iri", "ex:B", None, ""),
        ("ex:B", SC, "iri", "ex:C", None, ""),
        ("ex:p", SP, "iri", "ex:q", None, ""),
        ("ex:q", DOM, "iri", "ex:A", None, ""),
        ("ex:q", RNG, "iri", "ex:B", None, ""),
        ("u:x", "ex:p", "iri", "u:y", None, ""),
        ("u:lit", "ex:q", "literal", "text", None, ""),
    ]
    out = apply_rdfs(spark.createDataFrame(base, ddl))
    got = {(r["s"], r["p"], r["o_value"]) for r in out.collect()}
    expect_new = {
        # rdfs11: A sc C
        ("ex:A", SC, "ex:C"),
        # rdfs7: p sub q lifts the data triple
        ("u:x", "ex:q", "u:y"),
        # rdfs2/3 on the lifted triple, then rdfs9 up the chain
        ("u:x", RT, "ex:A"), ("u:x", RT, "ex:B"), ("u:x", RT, "ex:C"),
        ("u:y", RT, "ex:B"), ("u:y", RT, "ex:C"),
        # domain applies to the literal-object triple's subject...
        ("u:lit", RT, "ex:A"), ("u:lit", RT, "ex:B"), ("u:lit", RT, "ex:C"),
    }
    base_set = {(s, p, o) for (s, p, _k, o, _d, _l) in base}
    assert got == base_set | expect_new
    # ...but rdfs3 never types a literal object
    assert not any(s == "text" for (s, p, o) in got)


def test_apply_rdfs_idempotent(spark):
    from abecto_spark.operators.rule_text import apply_rdfs

    SC = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
    RT = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    ddl = ("s string, p string, o_kind string, o_value string,"
           " o_datatype string, o_lang string")
    base = spark.createDataFrame([
        ("ex:A", SC, "iri", "ex:B", None, ""),
        ("u:x", RT, "iri", "ex:A", None, ""),
    ], ddl)
    once = apply_rdfs(base)
    twice = apply_rdfs(once)
    assert once.count() == twice.count() == 3


_RT = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_RDFS = "http://www.w3.org/2000/01/rdf-schema#"
_SC, _SP, _DOM, _RNG = (
    _RDFS + n for n in ("subClassOf", "subPropertyOf", "domain", "range")
)
_RDFS_BASE = [
    ("ex:A", _SC, "iri", "ex:B", None, ""),
    ("ex:B", _SC, "iri", "ex:C", None, ""),
    ("ex:p", _SP, "iri", "ex:q", None, ""),
    ("ex:q", _SP, "iri", "ex:r", None, ""),
    ("ex:q", _DOM, "iri", "ex:A", None, ""),
    ("ex:r", _RNG, "iri", "ex:B", None, ""),
    ("u:x", "ex:p", "iri", "u:y", None, ""),
    ("_:d", "ex:p", "iri", "u:y", None, ""),
    ("u:x", "ex:q", "bnode", "_:o", None, ""),
    ("u:v", "ex:q", "iri", "u:u", None, ""),
    ("u:m", "ex:r", "iri", "u:n", None, ""),
    ("u:w", "ex:r", "literal", "v", None, "en"),
    ("u:z", _RT, "iri", "ex:A", None, ""),
    # a literal that spells a class name is not that class, nor is an
    # IRI-kind object carrying a language tag
    ("u:l", _RT, "literal", "ex:A", None, ""),
    ("u:t", _RT, "iri", "ex:A", None, "en"),
]
# case -> (extra rows, schema-first path expected, row cap or None)
_RDFS_CASES = {
    "plain": ([], True, None),
    "sc_cycle": ([("ex:C", _SC, "iri", "ex:A", None, "")], True, None),
    "sp_cycle": ([("ex:r", _SP, "iri", "ex:p", None, "")], True, None),
    "sp_object_type": ([("ex:p", _SP, "iri", _RT, None, "")], False, None),
    "sp_object_subclassof": (
        [("ex:p", _SP, "iri", _SC, None, "")], False, None,
    ),
    "domain_on_subclassof": (
        [(_SC, _DOM, "iri", "ex:C", None, "")], False, None,
    ),
    "range_on_type": ([(_RT, _RNG, "iri", "ex:C", None, "")], False, None),
    "literal_range": (
        [("ex:q", _RNG, "literal", "ex:C", None, "")], False, None,
    ),
    "bnode_schema_subject": (
        [("_:k", _SC, "iri", "ex:A", None, "")], False, None,
    ),
    # six schema rows in the base: one over the cap
    "row_cap": ([], False, 5),
    # seven schema rows fit, but SC* and SP* add up to nine
    "closure_cap": ([("ex:C", _SC, "iri", "ex:D", None, "")], False, 7),
}


@pytest.mark.parametrize("case", sorted(_RDFS_CASES))
def test_apply_rdfs_schema_first_matches_fixpoint(spark, monkeypatch, case):
    from abecto_spark.operators import rule_text
    from tests.conftest import rows_set

    extra, fast, cap = _RDFS_CASES[case]
    if cap is not None:
        monkeypatch.setattr(rule_text, "RDFS_SCHEMA_MAX_ROWS", cap)
    fixpoint = rule_text.apply_jena_rules
    calls = []

    def spy(*args, **kwargs):
        calls.append(args)
        return fixpoint(*args, **kwargs)

    monkeypatch.setattr(rule_text, "apply_jena_rules", spy)
    base = spark.createDataFrame(_RDFS_BASE + extra, TRIPLES_DDL)
    got = rows_set(rule_text.apply_rdfs(base))
    assert bool(calls) is not fast
    assert got == rows_set(fixpoint(base, rule_text.RDFS_RULES_TEXT))
