"""Tests for operators/shacl.py — SHACL core validation on hand-built
data graphs, shapes authored in SHACL-C and parsed through
sources/shaclc.py (the end-to-end path a user takes)."""

from __future__ import annotations

import pytest

from abecto_spark.operators.shacl import (
    ShaclShapesTooLarge,
    ShaclUnsupported,
    shacl_validate,
)
from abecto_spark.sources.shaclc import TRIPLES_DDL, parse_shaclc

EX = "http://example.org/"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_SUBCLASS = "http://www.w3.org/2000/01/rdf-schema#subClassOf"


def _shapes(spark, text):
    return spark.createDataFrame(parse_shaclc(text), TRIPLES_DDL)


def _data(spark, rows):
    full = [
        (s, p, k, v,
         None if k != "literal" else (dt or XSD + "string"),
         lang or "")
        for (s, p, k, v, dt, lang) in rows
    ]
    return spark.createDataFrame(full, TRIPLES_DDL)


def _viol(df):
    return {(r["focus"], r["component"], r["value"]) for r in df.collect()}


PERSON_SHAPE = f"""
PREFIX ex: <{EX}>
PREFIX xsd: <{XSD}>
shape ex:PersonShape -> ex:Person {{
  ex:name xsd:string [1..1] .
  ex:age xsd:integer [0..1] .
}}
"""


def test_min_max_count_and_datatype(spark):
    data = _data(spark, [
        ("urn:a", RDF_TYPE, "iri", EX + "Person", None, None),
        ("urn:a", EX + "name", "literal", "Alice", None, None),
        ("urn:b", RDF_TYPE, "iri", EX + "Person", None, None),
        # b: no name (MinCount); age tagged integer but lexically
        # ill-formed → Datatype
        ("urn:b", EX + "age", "literal", "x", XSD + "integer", None),
        ("urn:c", RDF_TYPE, "iri", EX + "Person", None, None),
        ("urn:c", EX + "name", "literal", "C1", None, None),
        ("urn:c", EX + "name", "literal", "C2", None, None),
        # age as plain string literal → Datatype violation
        ("urn:c", EX + "age", "literal", "9", None, None),
    ])
    got = _viol(shacl_validate(data, _shapes(spark, PERSON_SHAPE)))
    assert got == {
        ("urn:b", "MinCount", None),
        ("urn:b", "Datatype", "x"),
        ("urn:c", "MaxCount", None),
        ("urn:c", "Datatype", "9"),
    }


def test_duplicate_triple_is_one_value_node(spark):
    # the same name triple twice is one value node: [1..1] holds
    data = _data(spark, [
        ("urn:a", RDF_TYPE, "iri", EX + "Person", None, None),
        ("urn:a", EX + "name", "literal", "Alice", None, None),
        ("urn:a", EX + "name", "literal", "Alice", None, None),
    ])
    assert _viol(shacl_validate(data, _shapes(spark, PERSON_SHAPE))) == set()


def test_target_class_includes_subclasses(spark):
    data = _data(spark, [
        (EX + "Student", RDFS_SUBCLASS, "iri", EX + "Person", None, None),
        ("urn:s", RDF_TYPE, "iri", EX + "Student", None, None),
        # s has no name → MinCount fires through the subclass target
    ])
    got = _viol(shacl_validate(data, _shapes(spark, PERSON_SHAPE)))
    assert ("urn:s", "MinCount", None) in got


def test_class_constraint_with_subclass_closure(spark):
    shapes = _shapes(spark, f"""
PREFIX ex: <{EX}>
shape ex:S {{
  targetSubjectsOf = ex:knows .
  ex:knows ex:Person .
}}
""")
    data = _data(spark, [
        (EX + "Student", RDFS_SUBCLASS, "iri", EX + "Person", None, None),
        ("urn:a", EX + "knows", "iri", "urn:b", None, None),
        ("urn:b", RDF_TYPE, "iri", EX + "Student", None, None),
        ("urn:a", EX + "knows", "iri", "urn:nobody", None, None),
        ("urn:a", EX + "knows", "literal", "lit", None, None),
    ])
    got = _viol(shacl_validate(data, shapes))
    assert got == {
        ("urn:a", "Class", "urn:nobody"),
        ("urn:a", "Class", "lit"),
    }


def test_nodekind_pattern_and_lengths(spark):
    shapes = _shapes(spark, f"""
PREFIX ex: <{EX}>
shape ex:S {{
  targetNode = ex:n1 ex:n2 .
  ex:id IRI .
  ex:code pattern="^[A-Z]{{3}}$" .
  ex:tag minLength=2 maxLength=4 .
}}
""")
    data = _data(spark, [
        (EX + "n1", EX + "id", "iri", "urn:ok", None, None),
        (EX + "n1", EX + "code", "literal", "ABC", None, None),
        (EX + "n1", EX + "tag", "literal", "okay", None, None),
        (EX + "n2", EX + "id", "literal", "notiri", None, None),
        (EX + "n2", EX + "code", "literal", "nope", None, None),
        (EX + "n2", EX + "tag", "literal", "toolong", None, None),
        (EX + "n2", EX + "tag", "literal", "x", None, None),
    ])
    got = _viol(shacl_validate(data, shapes))
    assert got == {
        (EX + "n2", "NodeKind", "notiri"),
        (EX + "n2", "Pattern", "nope"),
        (EX + "n2", "MaxLength", "toolong"),
        (EX + "n2", "MinLength", "x"),
    }


def test_inverse_path_and_target_objects_of(spark):
    shapes = _shapes(spark, f"""
PREFIX ex: <{EX}>
shape ex:S {{
  targetObjectsOf = ex:memberOf .
  ^ex:memberOf [2..*] .
}}
""")
    data = _data(spark, [
        ("urn:a", EX + "memberOf", "iri", "urn:g1", None, None),
        ("urn:b", EX + "memberOf", "iri", "urn:g1", None, None),
        ("urn:c", EX + "memberOf", "iri", "urn:g2", None, None),
    ])
    got = _viol(shacl_validate(data, shapes))
    # g2 has only one member → MinCount on the inverse path
    assert got == {("urn:g2", "MinCount", None)}
    path = {r["path"] for r in shacl_validate(data, shapes).collect()}
    assert path == {f"^<{EX}memberOf>"}


def test_ranges_and_has_value(spark):
    shapes = _shapes(spark, f"""
PREFIX ex: <{EX}>
PREFIX xsd: <{XSD}>
shape ex:S {{
  targetSubjectsOf = ex:score .
  ex:score minInclusive=0 maxExclusive=100 .
  ex:flag hasValue=true .
}}
""")
    data = _data(spark, [
        ("urn:a", EX + "score", "literal", "55", XSD + "integer", None),
        ("urn:a", EX + "flag", "literal", "true", XSD + "boolean", None),
        ("urn:b", EX + "score", "literal", "-1", XSD + "integer", None),
        ("urn:c", EX + "score", "literal", "100", XSD + "integer", None),
        ("urn:d", EX + "score", "literal", "NaNish", None, None),
    ])
    got = _viol(shacl_validate(data, shapes))
    assert got == {
        ("urn:b", "MinInclusive", "-1"),
        ("urn:c", "MaxExclusive", "100"),
        ("urn:d", "MinInclusive", "NaNish"),
        ("urn:d", "MaxExclusive", "NaNish"),
        ("urn:b", "HasValue", None),
        ("urn:c", "HasValue", None),
        ("urn:d", "HasValue", None),
    }


def test_conformant_graph_returns_empty(spark):
    data = _data(spark, [
        ("urn:a", RDF_TYPE, "iri", EX + "Person", None, None),
        ("urn:a", EX + "name", "literal", "Alice", None, None),
        ("urn:a", EX + "age", "literal", "5", XSD + "integer", None),
    ])
    res = shacl_validate(data, _shapes(spark, PERSON_SHAPE))
    assert res.count() == 0
    assert res.columns == ["shape", "focus", "path", "component", "value"]


def test_unsupported_parameter_is_loud(spark):
    shapes = _shapes(spark, f"""
PREFIX ex: <{EX}>
shape ex:S {{
  targetSubjectsOf = ex:p .
  ex:p closed=true .
}}
""")
    data = _data(spark, [("urn:a", EX + "p", "literal", "x", None, None)])
    with pytest.raises(ShaclUnsupported, match="closed"):
        shacl_validate(data, shapes)


def test_shapes_size_guard(spark):
    data = _data(spark, [("urn:a", EX + "p", "literal", "x", None, None)])
    shapes = _shapes(spark, PERSON_SHAPE)
    with pytest.raises(ShaclShapesTooLarge):
        shacl_validate(data, shapes, max_shape_triples=2)


def test_multiple_class_and_hasvalue_constraints(spark):
    # two sh:class atoms: value must be an instance of BOTH
    shapes = _shapes(spark, f"""
PREFIX ex: <{EX}>
shape ex:S {{
  targetSubjectsOf = ex:knows .
  ex:knows ex:A ex:B .
  ex:tag hasValue="x" hasValue="y" .
}}
""")
    data = _data(spark, [
        ("urn:s", EX + "knows", "iri", "urn:both", None, None),
        ("urn:both", RDF_TYPE, "iri", EX + "A", None, None),
        ("urn:both", RDF_TYPE, "iri", EX + "B", None, None),
        ("urn:s", EX + "knows", "iri", "urn:onlyA", None, None),
        ("urn:onlyA", RDF_TYPE, "iri", EX + "A", None, None),
        ("urn:s", EX + "tag", "literal", "x", None, None),
        # "y" missing -> one HasValue violation
    ])
    got = _viol(shacl_validate(data, shapes))
    assert got == {
        ("urn:s", "Class", "urn:onlyA"),
        ("urn:s", "HasValue", None),
    }


def test_inverse_path_bnode_subject_nodekind(spark):
    # a bnode subject reached through an inverse path must classify as
    # BlankNode for sh:nodeKind, not IRI
    shapes = _shapes(spark, f"""
PREFIX ex: <{EX}>
shape ex:S {{
  targetObjectsOf = ex:memberOf .
  ^ex:memberOf IRI .
}}
""")
    data = _data(spark, [
        ("_:anon", EX + "memberOf", "iri", "urn:g", None, None),
        ("urn:m", EX + "memberOf", "iri", "urn:g", None, None),
    ])
    got = _viol(shacl_validate(data, shapes))
    assert got == {("urn:g", "NodeKind", "_:anon")}


SH = "http://www.w3.org/ns/shacl#"
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def _shapes_raw(spark, rows):
    # same column conventions as _data — used for constraints the
    # SHACL-C reader deliberately rejects (lists, property pairs)
    return _data(spark, rows)


def test_sh_in_is_term_equality(spark):
    shapes = _shapes_raw(spark, [
        (EX + "S", SH + "targetSubjectsOf", "iri", EX + "color", None, None),
        (EX + "S", SH + "property", "bnode", "_:p1", None, None),
        ("_:p1", SH + "path", "iri", EX + "color", None, None),
        ("_:p1", SH + "in", "bnode", "_:l1", None, None),
        ("_:l1", RDF_NS + "first", "iri", EX + "red", None, None),
        ("_:l1", RDF_NS + "rest", "bnode", "_:l2", None, None),
        ("_:l2", RDF_NS + "first", "literal", "green", None, None),
        ("_:l2", RDF_NS + "rest", "bnode", "_:l3", None, None),
        ("_:l3", RDF_NS + "first", "literal", "5", XSD + "integer", None),
        ("_:l3", RDF_NS + "rest", "iri", RDF_NS + "nil", None, None),
    ])
    data = _data(spark, [
        ("urn:a", EX + "color", "iri", EX + "red", None, None),
        ("urn:a", EX + "color", "literal", "green", None, None),
        ("urn:b", EX + "color", "literal", "5", XSD + "integer", None),
        # same lexical form, different datatype -> not a member
        ("urn:b", EX + "color", "literal", "5", None, None),
        ("urn:c", EX + "color", "literal", "blue", None, None),
    ])
    got = _viol(shacl_validate(data, shapes))
    assert got == {
        ("urn:b", "In", "5"),
        ("urn:c", "In", "blue"),
    }


def test_language_in_and_unique_lang(spark):
    shapes = _shapes_raw(spark, [
        (EX + "S", SH + "targetSubjectsOf", "iri", EX + "label", None, None),
        (EX + "S", SH + "property", "bnode", "_:p1", None, None),
        ("_:p1", SH + "path", "iri", EX + "label", None, None),
        ("_:p1", SH + "languageIn", "bnode", "_:l1", None, None),
        ("_:l1", RDF_NS + "first", "literal", "en", None, None),
        ("_:l1", RDF_NS + "rest", "bnode", "_:l2", None, None),
        ("_:l2", RDF_NS + "first", "literal", "fr", None, None),
        ("_:l2", RDF_NS + "rest", "iri", RDF_NS + "nil", None, None),
        ("_:p1", SH + "uniqueLang", "literal", "true",
         XSD + "boolean", None),
    ])
    data = _data(spark, [
        ("urn:a", EX + "label", "literal", "hello", None, "en"),
        # case-insensitive duplicate tag -> one UniqueLang violation
        ("urn:a", EX + "label", "literal", "hi", None, "EN"),
        ("urn:a", EX + "label", "literal", "salut", None, "fr"),
        # en-GB basic-matches the "en" range; a distinct tag for
        # uniqueLang purposes
        ("urn:a", EX + "label", "literal", "brit", None, "en-GB"),
        ("urn:a", EX + "label", "literal", "hallo", None, "de"),
        ("urn:a", EX + "label", "literal", "plain", None, None),
    ])
    got = _viol(shacl_validate(data, shapes))
    assert got == {
        ("urn:a", "LanguageIn", "hallo"),
        ("urn:a", "LanguageIn", "plain"),
        ("urn:a", "UniqueLang", "en"),
    }


def test_equals_and_disjoint_property_pairs(spark):
    shapes = _shapes_raw(spark, [
        (EX + "S", SH + "targetSubjectsOf", "iri", EX + "firstName",
         None, None),
        (EX + "S", SH + "property", "bnode", "_:p1", None, None),
        ("_:p1", SH + "path", "iri", EX + "firstName", None, None),
        ("_:p1", SH + "equals", "iri", EX + "givenName", None, None),
        (EX + "S", SH + "property", "bnode", "_:p2", None, None),
        ("_:p2", SH + "path", "iri", EX + "nick", None, None),
        ("_:p2", SH + "disjoint", "iri", EX + "firstName", None, None),
    ])
    data = _data(spark, [
        ("urn:a", EX + "firstName", "literal", "Al", None, None),
        ("urn:a", EX + "givenName", "literal", "Al", None, None),
        ("urn:a", EX + "nick", "literal", "Al", None, None),  # Disjoint
        ("urn:b", EX + "firstName", "literal", "Bo", None, None),
        ("urn:b", EX + "givenName", "literal", "Bob", None, None),
    ])
    got = _viol(shacl_validate(data, shapes))
    assert got == {
        ("urn:a", "Disjoint", "Al"),
        ("urn:b", "Equals", "Bo"),
        ("urn:b", "Equals", "Bob"),
    }


def test_less_than_pairs(spark):
    shapes = _shapes_raw(spark, [
        (EX + "S", SH + "targetSubjectsOf", "iri", EX + "start",
         None, None),
        (EX + "S", SH + "property", "bnode", "_:p1", None, None),
        ("_:p1", SH + "path", "iri", EX + "start", None, None),
        ("_:p1", SH + "lessThan", "iri", EX + "end", None, None),
        (EX + "S", SH + "property", "bnode", "_:p2", None, None),
        ("_:p2", SH + "path", "iri", EX + "start", None, None),
        ("_:p2", SH + "lessThanOrEquals", "iri", EX + "cap", None, None),
    ])
    data = _data(spark, [
        ("urn:a", EX + "start", "literal", "1", XSD + "integer", None),
        ("urn:a", EX + "end", "literal", "2", XSD + "integer", None),
        ("urn:a", EX + "cap", "literal", "1", XSD + "integer", None),
        ("urn:b", EX + "start", "literal", "3", XSD + "integer", None),
        ("urn:b", EX + "end", "literal", "2", XSD + "integer", None),
        # mixed string/numeric pair: SPARQL "<" is a type error ->
        # violation
        ("urn:c", EX + "start", "literal", "x", None, None),
        ("urn:c", EX + "end", "literal", "2", XSD + "integer", None),
        # non-literal value node can never compare
        ("urn:d", EX + "start", "iri", "urn:z", None, None),
        ("urn:d", EX + "end", "literal", "2", XSD + "integer", None),
    ])
    got = _viol(shacl_validate(data, shapes))
    assert got == {
        ("urn:b", "LessThan", "3"),
        ("urn:c", "LessThan", "x"),
        ("urn:d", "LessThan", "urn:z"),
    }


def test_closed_with_ignored_properties(spark):
    shapes = _shapes_raw(spark, [
        (EX + "S", SH + "targetClass", "iri", EX + "Person", None, None),
        (EX + "S", SH + "closed", "literal", "true", XSD + "boolean", None),
        (EX + "S", SH + "ignoredProperties", "bnode", "_:l1", None, None),
        ("_:l1", RDF_NS + "first", "iri", RDF_TYPE, None, None),
        ("_:l1", RDF_NS + "rest", "iri", RDF_NS + "nil", None, None),
        (EX + "S", SH + "property", "bnode", "_:p1", None, None),
        ("_:p1", SH + "path", "iri", EX + "name", None, None),
    ])
    data = _data(spark, [
        ("urn:a", RDF_TYPE, "iri", EX + "Person", None, None),
        ("urn:a", EX + "name", "literal", "A", None, None),
        ("urn:a", EX + "extra", "literal", "x", None, None),
    ])
    res = shacl_validate(data, shapes)
    got = _viol(res)
    assert got == {("urn:a", "Closed", "x")}
    row = res.where(res.component == "Closed").collect()[0]
    assert row["path"] == f"<{EX}extra>"


def test_shaclc_lists_and_closed_end_to_end(spark):
    # the SHACL-C surface for the list/pair constraints: in=[...],
    # languageIn=[...] (quoted tags), uniqueLang, closed/ignored
    shapes = _shapes(spark, f"""
PREFIX ex: <{EX}>
PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
shape ex:S -> ex:Thing {{
  closed = true .
  ignoredProperties = [rdf:type] .
  ex:status in=[ex:open ex:closed "other"] .
  ex:label languageIn=["en" "fr"] uniqueLang=true .
}}
""")
    data = _data(spark, [
        ("urn:a", RDF_TYPE, "iri", EX + "Thing", None, None),
        ("urn:a", EX + "status", "iri", EX + "open", None, None),
        ("urn:a", EX + "status", "literal", "bogus", None, None),
        ("urn:a", EX + "label", "literal", "ok", None, "en"),
        ("urn:a", EX + "label", "literal", "ok2", None, "en"),
        ("urn:a", EX + "label", "literal", "nein", None, "de"),
        ("urn:a", EX + "extra", "literal", "x", None, None),
    ])
    got = _viol(shacl_validate(data, shapes))
    assert got == {
        ("urn:a", "In", "bogus"),
        ("urn:a", "LanguageIn", "nein"),
        ("urn:a", "UniqueLang", "en"),
        ("urn:a", "Closed", "x"),
    }


def test_wide_integer_and_decimal_comparisons_are_exact(spark):
    # 2^53 + 1 has no double: compared as doubles, each pair below ties
    big, bigger = str(2**53), str(2**53 + 1)
    xi, xd = XSD + "integer", XSD + "decimal"
    shapes = _shapes_raw(spark, [
        (EX + "S", SH + "targetSubjectsOf", "iri", EX + "n", None, None),
        (EX + "S", SH + "property", "bnode", "_:p1", None, None),
        ("_:p1", SH + "path", "iri", EX + "n", None, None),
        ("_:p1", SH + "maxInclusive", "literal", big, xi, None),
        (EX + "S", SH + "property", "bnode", "_:p2", None, None),
        ("_:p2", SH + "path", "iri", EX + "n", None, None),
        ("_:p2", SH + "lessThanOrEquals", "iri", EX + "m", None, None),
        (EX + "S", SH + "property", "bnode", "_:p3", None, None),
        ("_:p3", SH + "path", "iri", EX + "n", None, None),
        ("_:p3", SH + "lessThan", "iri", EX + "k", None, None),
        (EX + "S", SH + "property", "bnode", "_:p4", None, None),
        ("_:p4", SH + "path", "iri", EX + "d", None, None),
        ("_:p4", SH + "minExclusive", "literal", "0.3", xd, None),
    ])
    data = _data(spark, [
        ("urn:a", EX + "n", "literal", bigger, xi, None),
        ("urn:a", EX + "m", "literal", big, xi, None),
        ("urn:a", EX + "k", "literal", bigger, xi, None),
        ("urn:b", EX + "n", "literal", big, xi, None),
        ("urn:b", EX + "m", "literal", bigger, xi, None),
        ("urn:b", EX + "k", "literal", bigger, xi, None),
        ("urn:b", EX + "d", "literal", "0.30000000000000001", xd, None),
        ("urn:c", EX + "n", "literal", big, xi, None),
        ("urn:c", EX + "m", "literal", big, xi, None),
        ("urn:c", EX + "k", "literal", bigger, xi, None),
        ("urn:c", EX + "d", "literal", "0.3", xd, None),
    ])
    got = _viol(shacl_validate(data, shapes))
    assert got == {
        ("urn:a", "MaxInclusive", bigger),
        ("urn:a", "LessThanOrEquals", bigger),
        ("urn:a", "LessThan", bigger),
        ("urn:c", "MinExclusive", "0.3"),
    }
