"""Tests for operators/update.py — SPARQL 1.1 Update over a triples
DataFrame."""

from __future__ import annotations

import pytest

from abecto_spark.operators.update import apply_update
from abecto_spark.sparql import SparqlUnsupported

EX = "http://example.org/"
XS = "http://www.w3.org/2001/XMLSchema#string"

DDL = (
    "s string, p string, o_kind string, o_value string,"
    " o_datatype string, o_lang string"
)


def _g(spark, rows):
    return spark.createDataFrame(rows, DDL)


def _triples(df):
    return {
        (r["s"], r["p"], r["o_kind"], r["o_value"]) for r in df.collect()
    }


def test_insert_and_delete_data(spark):
    g = _g(spark, [("urn:a", EX + "p", "iri", "urn:b", None, "")])
    out = apply_update(g, f"""
        PREFIX ex: <{EX}>
        INSERT DATA {{ <urn:c> ex:p <urn:d> . <urn:c> ex:q "v" }} ;
        DELETE DATA {{ <urn:a> ex:p <urn:b> }}
    """)
    assert _triples(out) == {
        ("urn:c", EX + "p", "iri", "urn:d"),
        ("urn:c", EX + "q", "literal", "v"),
    }


def test_delete_insert_where_same_bindings(spark):
    # renaming update: both templates see the PRE-update solutions
    g = _g(spark, [
        ("urn:a", EX + "old", "literal", "1", XS, ""),
        ("urn:b", EX + "old", "literal", "2", XS, ""),
        ("urn:b", EX + "keep", "literal", "k", XS, ""),
    ])
    out = apply_update(g, f"""
        PREFIX ex: <{EX}>
        DELETE {{ ?s ex:old ?v }} INSERT {{ ?s ex:new ?v }}
        WHERE {{ ?s ex:old ?v }}
    """)
    assert _triples(out) == {
        ("urn:a", EX + "new", "literal", "1"),
        ("urn:b", EX + "new", "literal", "2"),
        ("urn:b", EX + "keep", "literal", "k"),
    }


def test_delete_where_shorthand_and_filter(spark):
    g = _g(spark, [
        ("urn:a", EX + "n", "literal", "5", None, ""),
        ("urn:b", EX + "n", "literal", "50", None, ""),
    ])
    out = apply_update(g, f"""
        PREFIX ex: <{EX}>
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        INSERT {{ ?s ex:big true }}
        WHERE {{ ?s ex:n ?v .
                 FILTER(xsd:integer(?v) > 10) }}
    """)
    assert ("urn:b", EX + "big", "literal", "true") in _triples(out)
    assert ("urn:a", EX + "big", "literal", "true") not in _triples(out)

    out2 = apply_update(g, f"PREFIX ex: <{EX}> DELETE WHERE {{ ?s ex:n ?v }}")
    assert _triples(out2) == set()


def test_optional_unbound_skips_template_triple(spark):
    # §3.1.3.2: a solution that leaves a template variable unbound
    # skips that triple, not the whole solution
    g = _g(spark, [
        ("urn:a", EX + "p", "iri", "urn:x", None, ""),
        ("urn:b", EX + "p", "iri", "urn:y", None, ""),
        ("urn:b", EX + "extra", "literal", "e", XS, ""),
    ])
    out = apply_update(g, f"""
        PREFIX ex: <{EX}>
        INSERT {{ ?s ex:copy ?e . ?s ex:seen true }}
        WHERE {{ ?s ex:p ?o . OPTIONAL {{ ?s ex:extra ?e }} }}
    """)
    t = _triples(out)
    assert ("urn:b", EX + "copy", "literal", "e") in t
    assert ("urn:a", EX + "seen", "literal", "true") in t
    assert not any(s == "urn:a" and p == EX + "copy" for s, p, _, _ in t)


def test_clear_and_sequence(spark):
    g = _g(spark, [("urn:a", EX + "p", "iri", "urn:b", None, "")])
    out = apply_update(g, f"""
        CLEAR DEFAULT ;
        INSERT DATA {{ <urn:z> <{EX}p> "fresh" }}
    """)
    assert _triples(out) == {("urn:z", EX + "p", "literal", "fresh")}


def test_unsupported_forms_are_loud(spark):
    g = _g(spark, [("urn:a", EX + "p", "iri", "urn:b", None, "")])
    with pytest.raises(SparqlUnsupported, match="ground"):
        apply_update(g, f"INSERT DATA {{ ?v <{EX}p> <urn:b> }}")
    with pytest.raises(SparqlUnsupported, match="WITH|named"):
        apply_update(g, f"WITH <urn:g> DELETE WHERE {{ ?s <{EX}p> ?o }}")
    with pytest.raises(SparqlUnsupported, match="never bound"):
        apply_update(
            g, f"INSERT {{ ?s <{EX}q> ?nope }} WHERE {{ ?s <{EX}p> ?o }}"
        )


def test_input_dataframe_not_mutated(spark):
    g = _g(spark, [("urn:a", EX + "p", "iri", "urn:b", None, "")])
    apply_update(g, "CLEAR ALL")
    assert g.count() == 1


def test_insert_template_bnode_minted_per_solution(spark):
    # [ ex:of ?s ] in the INSERT template: one fresh bnode per solution
    g = _g(spark, [
        ("urn:a", EX + "p", "iri", "urn:x", None, ""),
        ("urn:b", EX + "p", "iri", "urn:y", None, ""),
    ])
    out = apply_update(g, f"""
        PREFIX ex: <{EX}>
        INSERT {{ [] ex:of ?s }} WHERE {{ ?s ex:p ?o }}
    """)
    rows = [r for r in out.collect() if r["p"] == EX + "of"]
    assert len(rows) == 2
    assert all(r["s"].startswith("_:u") for r in rows)
    assert rows[0]["s"] != rows[1]["s"]
    # replays mint the same labels (deterministic)
    out2 = apply_update(g, f"""
        PREFIX ex: <{EX}>
        INSERT {{ [] ex:of ?s }} WHERE {{ ?s ex:p ?o }}
    """)
    assert _triples(out) == _triples(out2)


def test_delete_template_bnode_is_loud(spark):
    g = _g(spark, [("urn:a", EX + "p", "iri", "urn:x", None, "")])
    with pytest.raises(SparqlUnsupported, match="blank node"):
        apply_update(
            g, f"DELETE {{ [] <{EX}p> ?o }} WHERE {{ ?s <{EX}p> ?o }}"
        )
    with pytest.raises(SparqlUnsupported, match="blank node"):
        apply_update(g, f"DELETE WHERE {{ ?s <{EX}p> [] }}")


QDDL = DDL + ", graph string"


def _q(spark, rows):
    return spark.createDataFrame(rows, QDDL)


def _quads(df):
    return {
        (r["graph"], r["s"], r["p"], r["o_value"]) for r in df.collect()
    }


def test_quads_insert_delete_data_with_graph(spark):
    g = _q(spark, [("urn:a", EX + "p", "iri", "urn:b", None, "", "")])
    out = apply_update(g, f"""
        PREFIX ex: <{EX}>
        INSERT DATA {{
          <urn:c> ex:p <urn:d> .
          GRAPH <urn:g1> {{ <urn:c> ex:q "v" }}
        }} ;
        DELETE DATA {{ GRAPH <urn:g1> {{ <urn:c> ex:q "v" }} }} ;
        INSERT DATA {{ GRAPH <urn:g2> {{ <urn:e> ex:r "w" }} }}
    """)
    assert out.columns == ["s", "p", "o_kind", "o_value", "o_datatype",
                           "o_lang", "graph"]
    assert _quads(out) == {
        ("", "urn:a", EX + "p", "urn:b"),
        ("", "urn:c", EX + "p", "urn:d"),
        ("urn:g2", "urn:e", EX + "r", "w"),
    }


def test_quads_with_scopes_where_and_templates(spark):
    # WITH <g1>: WHERE matches only g1 rows; unwrapped templates write
    # to g1; a GRAPH block in the template overrides
    g = _q(spark, [
        ("urn:a", EX + "v", "literal", "1", XS, "", "urn:g1"),
        ("urn:b", EX + "v", "literal", "2", XS, "", "urn:g2"),
    ])
    out = apply_update(g, f"""
        PREFIX ex: <{EX}>
        WITH <urn:g1>
        DELETE {{ ?s ex:v ?x }}
        INSERT {{ ?s ex:w ?x . GRAPH <urn:log> {{ ?s ex:was ?x }} }}
        WHERE {{ ?s ex:v ?x }}
    """)
    assert _quads(out) == {
        ("urn:g2", "urn:b", EX + "v", "2"),   # untouched: not in g1
        ("urn:g1", "urn:a", EX + "w", "1"),
        ("urn:log", "urn:a", EX + "was", "1"),
    }


def test_quads_union_default_where_graph_pattern(spark):
    # without WITH the WHERE follows the engine's union-of-graphs
    # default, and GRAPH patterns scope inside WHERE
    g = _q(spark, [
        ("urn:a", EX + "v", "literal", "1", XS, "", "urn:g1"),
        ("urn:b", EX + "v", "literal", "2", XS, "", ""),
    ])
    out = apply_update(g, f"""
        PREFIX ex: <{EX}>
        INSERT {{ GRAPH <urn:found> {{ ?s ex:in ?g }} }}
        WHERE {{ GRAPH ?g {{ ?s ex:v ?x }} }}
    """)
    assert ("urn:found", "urn:a", EX + "in", "urn:g1") in _quads(out)
    assert len(_quads(out)) == 3


def test_quads_clear_and_drop_targets(spark):
    rows = [
        ("urn:a", EX + "p", "iri", "urn:b", None, "", ""),
        ("urn:c", EX + "p", "iri", "urn:d", None, "", "urn:g1"),
        ("urn:e", EX + "p", "iri", "urn:f", None, "", "urn:g2"),
    ]
    out = apply_update(_q(spark, rows), "CLEAR GRAPH <urn:g1>")
    assert _quads(out) == {
        ("", "urn:a", EX + "p", "urn:b"),
        ("urn:g2", "urn:e", EX + "p", "urn:f"),
    }
    out = apply_update(_q(spark, rows), "DROP NAMED")
    assert _quads(out) == {("", "urn:a", EX + "p", "urn:b")}
    out = apply_update(_q(spark, rows), "CLEAR DEFAULT")
    assert len(_quads(out)) == 2
    out = apply_update(_q(spark, rows), "DROP SILENT ALL ; CREATE GRAPH <urn:x>")
    assert len(_quads(out)) == 0


def test_quads_add_copy_move(spark):
    rows = [
        ("urn:a", EX + "p", "iri", "urn:b", None, "", ""),
        ("urn:c", EX + "p", "iri", "urn:d", None, "", "urn:g1"),
        ("urn:e", EX + "p", "iri", "urn:f", None, "", "urn:g2"),
    ]
    out = apply_update(_q(spark, rows), "ADD DEFAULT TO GRAPH <urn:g1>")
    assert _quads(out) == {
        ("", "urn:a", EX + "p", "urn:b"),
        ("urn:g1", "urn:a", EX + "p", "urn:b"),
        ("urn:g1", "urn:c", EX + "p", "urn:d"),
        ("urn:g2", "urn:e", EX + "p", "urn:f"),
    }
    # COPY overwrites the destination
    out = apply_update(_q(spark, rows), "COPY GRAPH <urn:g1> TO <urn:g2>")
    assert _quads(out) == {
        ("", "urn:a", EX + "p", "urn:b"),
        ("urn:g1", "urn:c", EX + "p", "urn:d"),
        ("urn:g2", "urn:c", EX + "p", "urn:d"),
    }
    # MOVE also drops the source
    out = apply_update(_q(spark, rows), "MOVE <urn:g1> TO DEFAULT")
    assert _quads(out) == {
        ("", "urn:c", EX + "p", "urn:d"),
        ("urn:g2", "urn:e", EX + "p", "urn:f"),
    }
    # same-graph MOVE is a no-op
    out = apply_update(_q(spark, rows), "MOVE <urn:g1> TO <urn:g1>")
    assert len(_quads(out)) == 3


def test_graph_forms_loud_without_graph_column(spark):
    g = _g(spark, [("urn:a", EX + "p", "iri", "urn:b", None, "")])
    with pytest.raises(SparqlUnsupported, match="graph column"):
        apply_update(g, "CLEAR GRAPH <urn:g1>")
    with pytest.raises(SparqlUnsupported, match="graph column"):
        apply_update(g, f"""
            PREFIX ex: <{EX}>
            INSERT DATA {{ GRAPH <urn:g> {{ <urn:a> ex:p "x" }} }}
        """)
    # graph-free updates still run on plain triples
    out = apply_update(g, "DELETE DATA { <urn:a> <" + EX + "p> <urn:b> }")
    assert _triples(out) == set()


def test_quads_using_and_variable_graph_template_loud(spark):
    g = _q(spark, [("urn:a", EX + "p", "iri", "urn:b", None, "", "")])
    with pytest.raises(SparqlUnsupported, match="USING"):
        apply_update(g, f"""
            PREFIX ex: <{EX}>
            DELETE {{ ?s ex:p ?o }} USING <urn:g1> WHERE {{ ?s ex:p ?o }}
        """)
    with pytest.raises(SparqlUnsupported, match="constant IRI"):
        apply_update(g, f"""
            PREFIX ex: <{EX}>
            INSERT {{ GRAPH ?g {{ ?s ex:q ?o }} }}
            WHERE {{ GRAPH ?g {{ ?s ex:p ?o }} }}
        """)
    with pytest.raises(SparqlUnsupported, match="WITH-scoped"):
        apply_update(g, f"""
            PREFIX ex: <{EX}>
            WITH <urn:g1> DELETE {{ ?s ex:p ?o }}
            WHERE {{ GRAPH <urn:g2> {{ ?s ex:p ?o }} }}
        """)


_NESTED_GRAPH_WHERES = [
    "?s ex:p ?o OPTIONAL { GRAPH <urn:g> { ?s ex:q ?x } }",
    "{ ?s ex:p ?o } UNION { GRAPH <urn:g> { ?s ex:p ?o } }",
    "?s ex:p ?o MINUS { GRAPH <urn:g> { ?s ex:p ?o } }",
    "?s ex:p ?o FILTER NOT EXISTS { GRAPH <urn:g> { ?s ex:q ?o } }",
    "?s ex:p ?o { SELECT ?s WHERE { GRAPH <urn:g> { ?s ex:p ?z } } }",
    "?s ex:p ?o OPTIONAL { ?s ex:q ?x"
    " { GRAPH ?g { ?x ex:q ?y } } UNION { ?x ex:r ?y } }",
]


@pytest.mark.parametrize("where", _NESTED_GRAPH_WHERES)
def test_nested_graph_block_is_loud(spark, where):
    prefix = f"PREFIX ex: <{EX}> "
    body = f"DELETE {{ ?s ex:p ?o }} WHERE {{ {where} }}"
    # over plain triples the up-front named-graph check refuses it
    g = _g(spark, [("urn:a", EX + "p", "iri", "urn:b", None, "")])
    with pytest.raises(SparqlUnsupported, match="named-graph update"):
        apply_update(g, prefix + body)
    # inside a WITH scope it would otherwise match nothing, silently
    q = _q(spark, [("urn:a", EX + "p", "iri", "urn:b", None, "", "urn:g")])
    with pytest.raises(SparqlUnsupported, match="WITH-scoped"):
        apply_update(q, prefix + "WITH <urn:g> " + body)
