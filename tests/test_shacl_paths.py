"""SHACL property-path expressions (r5): sh:inversePath and sequence
paths, compiled to synthetic value-node rows every constraint component
consumes unchanged (shacl/compile.py _path_value_frames).

The independent evaluator (tests/reference_shacl.py) predates paths, so
this suite pins semantics with closed-form handcrafted fixtures — the
same strategy as the qualified/shape-valued suite. The corpus-scale
closed form rides the kg_path_verdicts driver oracle (queries/kg.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from harvesting_validator_spark.shacl.compile import validate
from harvesting_validator_spark.shacl.parse import parse_shapes_turtle
from harvesting_validator_spark.sources.rdf_parse import Triple

EX = "http://example.com/ns#"
SH = "http://www.w3.org/ns/shacl#"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

PROFILE = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.com/ns#> .

ex:EmployeeShape a sh:NodeShape ;
  sh:targetClass ex:Employee ;
  sh:property [ sh:path ( ex:worksFor ex:city ) ;
                sh:minCount 1 ; sh:maxCount 1 ;
                sh:pattern "^City" ] ;
  sh:property [ sh:path [ sh:inversePath ex:manages ] ;
                sh:maxCount 1 ; sh:nodeKind sh:IRI ] ;
  sh:property [ sh:path ( ex:worksFor ex:sector ) ;
                sh:class ex:Sector ] .
"""

SHAPES = parse_shapes_turtle(PROFILE)
SEQ = EX + "worksFor/" + EX + "city"
INV = "^" + EX + "manages"
SEC = EX + "worksFor/" + EX + "sector"


def _t(subj, pred, val, kind="literal", dt=XSD + "string", lang=None):
    if kind != "literal":
        dt = None
    return Triple(subj, pred, val, kind, dt, lang)


def _violations(spark, docs, shapes=SHAPES):
    rows = [
        (doc_id, t.subj, t.pred, t.obj_value, t.obj_kind,
         t.obj_datatype, t.obj_lang)
        for doc_id, ts in docs.items()
        for t in ts
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, subj string, pred string, obj_value string, "
        "obj_kind string, obj_datatype string, obj_lang string",
    )
    viol = validate(df, shapes, spark, cache_intermediate=False)
    return {
        (r.focus_node, r.constraint_component, r.result_path, r.value)
        for r in viol.collect()
    }


# --- parsing -------------------------------------------------------------------
def test_parse_path_expressions():
    by_path = {
        p.path: p for s in SHAPES.shapes for p in s.properties
    }
    seq = by_path[SEQ]
    assert seq.path_kind == "sequence"
    assert seq.path_preds == (EX + "worksFor", EX + "city")
    inv = by_path[INV]
    assert inv.path_kind == "inverse"
    assert inv.path_preds == (EX + "manages",)


@pytest.mark.parametrize("snippet", [
    # double inverse (normalize-at-parse covers sequence/alternative
    # under inverse; ^^a stays out)
    "sh:path [ sh:inversePath [ sh:inversePath ex:a ] ]",
    # closure under inverse
    "sh:path [ sh:inversePath [ sh:zeroOrMorePath ex:a ] ]",
    # sequence nested inside a sequence (step members are IRI or
    # [sh:inversePath <iri>] only)
    "sh:path ( ex:a ( ex:b ex:c ) )",
    # alternative nested inside a sequence
    "sh:path ( ex:a [ sh:alternativePath ( ex:b ex:c ) ] )",
    # 1-element sequence
    "sh:path ( ex:a )",
    # alternative: 1-element list / bare IRI / nested non-step member
    "sh:path [ sh:alternativePath ( ex:a ) ]",
    "sh:path [ sh:alternativePath ex:a ]",
    "sh:path [ sh:alternativePath ( ex:a ( ex:b ex:c ) ) ]",
    # nested expressions under the unary forms
    "sh:path [ sh:zeroOrOnePath [ sh:inversePath ex:a ] ]",
    "sh:path [ sh:zeroOrMorePath [ sh:inversePath ex:a ] ]",
    "sh:path [ sh:oneOrMorePath ( ex:a ex:b ) ]",
])
def test_unsupported_path_forms_raise(snippet):
    turtle = f"""
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.com/ns#> .
ex:S a sh:NodeShape ; sh:targetClass ex:T ;
  sh:property [ {snippet} ; sh:minCount 1 ] .
"""
    with pytest.raises(NotImplementedError):
        parse_shapes_turtle(turtle)


def test_node_shape_under_path_expression_raises():
    turtle = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.com/ns#> .
ex:S a sh:NodeShape ; sh:targetClass ex:T ;
  sh:property [ sh:path [ sh:inversePath ex:p ] ; sh:node ex:Child ] .
ex:Child a sh:NodeShape .
"""
    with pytest.raises(NotImplementedError):
        parse_shapes_turtle(turtle)


# --- evaluation ----------------------------------------------------------------
def test_sequence_path_cardinality_and_set_semantics(spark):
    docs = {
        "d": [
            # w0: diamond — two employers, SAME city value: counts ONCE
            _t(EX + "w0", RDF_TYPE, EX + "Employee", kind="iri"),
            _t(EX + "w0", EX + "worksFor", EX + "c0a", kind="iri"),
            _t(EX + "w0", EX + "worksFor", EX + "c0b", kind="iri"),
            _t(EX + "c0a", EX + "city", "City A"),
            _t(EX + "c0b", EX + "city", "City A"),
            # w1: no employer -> zero sequence values -> minCount
            _t(EX + "w1", RDF_TYPE, EX + "Employee", kind="iri"),
            # w2: one employer, two cities -> maxCount
            _t(EX + "w2", RDF_TYPE, EX + "Employee", kind="iri"),
            _t(EX + "w2", EX + "worksFor", EX + "c2", kind="iri"),
            _t(EX + "c2", EX + "city", "City A"),
            _t(EX + "c2", EX + "city", "City B"),
        ]
    }
    got = _violations(spark, docs)
    card = {v for v in got if "Count" in v[1]}
    assert card == {
        (EX + "w1", SH + "MinCountConstraintComponent", SEQ, None),
        (EX + "w2", SH + "MaxCountConstraintComponent", SEQ, None),
    }, got


def test_value_constraints_apply_to_path_values(spark):
    """Pass-2 scan constraints (sh:pattern) and the pass-4 sh:class join
    must see the synthetic path rows exactly like plain values."""
    docs = {
        "d": [
            # bad city spelling -> pattern violation on the SEQUENCE path
            _t(EX + "w0", RDF_TYPE, EX + "Employee", kind="iri"),
            _t(EX + "w0", EX + "worksFor", EX + "c0", kind="iri"),
            _t(EX + "c0", EX + "city", "Metropolis"),
            # sector value lacks rdf:type ex:Sector -> class violation
            _t(EX + "c0", EX + "sector", EX + "untyped", kind="iri"),
            # manager present exactly once: no inverse violation
            _t(EX + "m0", EX + "manages", EX + "w0", kind="iri"),
        ]
    }
    got = _violations(spark, docs)
    assert (
        EX + "w0", SH + "PatternConstraintComponent", SEQ, "Metropolis"
    ) in got
    assert (
        EX + "w0", SH + "ClassConstraintComponent", SEC, EX + "untyped"
    ) in got
    assert not any(v[2] == INV for v in got)


def test_inverse_path_values_and_nodekind(spark):
    docs = {
        "d": [
            _t(EX + "w3", RDF_TYPE, EX + "Employee", kind="iri"),
            _t(EX + "w3", EX + "worksFor", EX + "c3", kind="iri"),
            _t(EX + "c3", EX + "city", "City A"),
            # two managers -> inverse maxCount; one is a bnode -> nodeKind
            _t(EX + "ma", EX + "manages", EX + "w3", kind="iri"),
            _t("_:mb", EX + "manages", EX + "w3", kind="iri"),
        ]
    }
    got = _violations(spark, docs)
    assert (
        EX + "w3", SH + "MaxCountConstraintComponent", INV, None
    ) in got
    assert (
        EX + "w3", SH + "NodeKindConstraintComponent", INV, "_:mb"
    ) in got


ALT_PROFILE = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.com/ns#> .
ex:ContactShape a sh:NodeShape ;
  sh:targetClass ex:Contact ;
  sh:property [ sh:path [ sh:alternativePath ( ex:email ex:backupEmail ) ] ;
                sh:minCount 1 ; sh:maxCount 2 ; sh:pattern "@" ] .
"""
ALT = EX + "email|" + EX + "backupEmail"


def test_alternative_path_union_and_set_semantics(spark):
    shapes = parse_shapes_turtle(ALT_PROFILE)
    by_path = {p.path: p for s in shapes.shapes for p in s.properties}
    assert by_path[ALT].path_kind == "alternative"
    assert by_path[ALT].path_preds == (EX + "email", EX + "backupEmail")
    docs = {
        "d": [
            # c0: one email only -> fine
            _t(EX + "c0", RDF_TYPE, EX + "Contact", kind="iri"),
            _t(EX + "c0", EX + "email", "a@x"),
            # c1: neither member -> minCount on the alternative id
            _t(EX + "c1", RDF_TYPE, EX + "Contact", kind="iri"),
            # c2: 3 distinct values across both members -> maxCount
            _t(EX + "c2", RDF_TYPE, EX + "Contact", kind="iri"),
            _t(EX + "c2", EX + "email", "a@x"),
            _t(EX + "c2", EX + "email", "b@x"),
            _t(EX + "c2", EX + "backupEmail", "c@x"),
            # c3: SAME value via both members counts ONCE -> 2 values, ok;
            # one of them fails the pattern
            _t(EX + "c3", RDF_TYPE, EX + "Contact", kind="iri"),
            _t(EX + "c3", EX + "email", "dup@x"),
            _t(EX + "c3", EX + "backupEmail", "dup@x"),
            _t(EX + "c3", EX + "backupEmail", "nodomain"),
        ]
    }
    got = _violations(spark, docs, shapes)
    assert got == {
        (EX + "c1", SH + "MinCountConstraintComponent", ALT, None),
        (EX + "c2", SH + "MaxCountConstraintComponent", ALT, None),
        (EX + "c3", SH + "PatternConstraintComponent", ALT, "nodomain"),
    }, got


ZOO_PROFILE = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.com/ns#> .
ex:PersonShape a sh:NodeShape ;
  sh:targetClass ex:Person ;
  sh:property [ sh:path [ sh:zeroOrOnePath ex:spouse ] ;
                sh:maxCount 2 ; sh:nodeKind sh:IRI ] .
"""
ZOO = EX + "spouse?"


def test_zero_or_one_path_includes_focus(spark):
    shapes = parse_shapes_turtle(ZOO_PROFILE)
    by_path = {p.path: p for s in shapes.shapes for p in s.properties}
    assert by_path[ZOO].path_kind == "zero_or_one"
    assert by_path[ZOO].path_preds == (EX + "spouse",)
    docs = {
        "d": [
            # p0: no spouse -> zero step alone = {p0}: 1 value, IRI, fine
            _t(EX + "p0", RDF_TYPE, EX + "Person", kind="iri"),
            # p1: two spouses -> {p1, s1a, s1b}: 3 values -> maxCount 2
            _t(EX + "p1", RDF_TYPE, EX + "Person", kind="iri"),
            _t(EX + "p1", EX + "spouse", EX + "s1a", kind="iri"),
            _t(EX + "p1", EX + "spouse", EX + "s1b", kind="iri"),
            # p2: self-loop collapses with the zero step -> {p2}: fine
            _t(EX + "p2", RDF_TYPE, EX + "Person", kind="iri"),
            _t(EX + "p2", EX + "spouse", EX + "p2", kind="iri"),
            # p3: bnode spouse -> nodeKind IRI violation on the hop value
            _t(EX + "p3", RDF_TYPE, EX + "Person", kind="iri"),
            _t(EX + "p3", EX + "spouse", "_:sb", kind="bnode"),
        ]
    }
    got = _violations(spark, docs, shapes)
    assert got == {
        (EX + "p1", SH + "MaxCountConstraintComponent", ZOO, None),
        (EX + "p3", SH + "NodeKindConstraintComponent", ZOO, "_:sb"),
    }, got


def test_closed_shape_ignores_synthetic_path_rows(spark):
    """A closed shape with a path-expression property must neither flag
    the synthetic rows (their pred is the path id, which IS in the
    allowed set) nor whitelist the underlying predicates (per spec,
    closed only covers direct IRI paths)."""
    turtle = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix ex: <http://example.com/ns#> .
ex:S a sh:NodeShape ; sh:targetClass ex:T ;
  sh:property [ sh:path ex:ok ] ;
  sh:property [ sh:path [ sh:inversePath ex:boss ] ; sh:maxCount 2 ] ;
  sh:closed true ; sh:ignoredProperties ( rdf:type ) .
"""
    shapes = parse_shapes_turtle(turtle)
    docs = {
        "d": [
            _t(EX + "n", RDF_TYPE, EX + "T", kind="iri"),
            _t(EX + "n", EX + "ok", "fine"),
            # direct use of the inverse path's underlying predicate on
            # the focus is NOT whitelisted by the path expression
            _t(EX + "n", EX + "boss", EX + "x", kind="iri"),
            _t(EX + "m", EX + "boss", EX + "n", kind="iri"),
        ]
    }
    got = _violations(spark, docs, shapes)
    closed = {v for v in got if v[1] == SH + "ClosedConstraintComponent"}
    assert closed == {
        (EX + "n", SH + "ClosedConstraintComponent", EX + "boss", EX + "x")
    }, got


REC_PROFILE = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.com/ns#> .
ex:CategoryShape a sh:NodeShape ;
  sh:targetClass ex:Category ;
  sh:property [ sh:path [ sh:zeroOrMorePath ex:broader ] ;
                sh:maxCount 3 ; sh:nodeKind sh:IRI ] ;
  sh:property [ sh:path [ sh:oneOrMorePath ex:broader ] ;
                sh:minCount 1 ] .
"""
STAR = EX + "broader*"
PLUS = EX + "broader+"


def test_parse_recursive_paths():
    shapes = parse_shapes_turtle(REC_PROFILE)
    by_path = {p.path: p for s in shapes.shapes for p in s.properties}
    assert by_path[STAR].path_kind == "zero_or_more"
    assert by_path[PLUS].path_kind == "one_or_more"
    assert by_path[STAR].path_preds == (EX + "broader",)


def test_recursive_path_chain_cardinality(spark):
    """c0 -> c1 -> c2 -> c3: broader* of c0 = {c0,c1,c2,c3} (4 > max 3);
    broader+ of c0 = {c1,c2,c3} (min 1 ok). A root with no broader edge
    has broader* = {itself} (ok) but broader+ = {} -> MinCount."""
    shapes = parse_shapes_turtle(REC_PROFILE)
    docs = {
        "d": [
            _t(EX + "c0", RDF_TYPE, EX + "Category", kind="iri"),
            _t(EX + "c0", EX + "broader", EX + "c1", kind="iri"),
            _t(EX + "c1", EX + "broader", EX + "c2", kind="iri"),
            _t(EX + "c2", EX + "broader", EX + "c3", kind="iri"),
            _t(EX + "root", RDF_TYPE, EX + "Category", kind="iri"),
        ]
    }
    got = _violations(spark, docs, shapes)
    assert got == {
        (EX + "c0", SH + "MaxCountConstraintComponent", STAR, None),
        (EX + "root", SH + "MinCountConstraintComponent", PLUS, None),
    }, got


def test_recursive_path_cycle_and_diamond_set_semantics(spark):
    """A 2-cycle x <-> y: broader+ of x = {x, y} (x reaches ITSELF via
    the cycle) — 2 values, both constraints fine. A diamond a->{b,c}->d
    counts d ONCE: broader* of a = {a,b,c,d} = 4 -> MaxCount, and no
    other violation (dedup keeps the count at 4, not 5)."""
    shapes = parse_shapes_turtle(REC_PROFILE)
    docs = {
        "d": [
            _t(EX + "x", RDF_TYPE, EX + "Category", kind="iri"),
            _t(EX + "x", EX + "broader", EX + "y", kind="iri"),
            _t(EX + "y", EX + "broader", EX + "x", kind="iri"),
            _t(EX + "a", RDF_TYPE, EX + "Category", kind="iri"),
            _t(EX + "a", EX + "broader", EX + "b", kind="iri"),
            _t(EX + "a", EX + "broader", EX + "c", kind="iri"),
            _t(EX + "b", EX + "broader", EX + "dd", kind="iri"),
            _t(EX + "c", EX + "broader", EX + "dd", kind="iri"),
        ]
    }
    got = _violations(spark, docs, shapes)
    assert got == {
        (EX + "a", SH + "MaxCountConstraintComponent", STAR, None),
    }, got


def test_recursive_path_literal_leaf_and_value_constraints(spark):
    """A literal leaf enters the closure at the final hop: broader* of
    L = {L, "free"} -> the literal violates sh:nodeKind sh:IRI on the
    star path (and satisfies broader+ minCount)."""
    shapes = parse_shapes_turtle(REC_PROFILE)
    docs = {
        "d": [
            _t(EX + "L", RDF_TYPE, EX + "Category", kind="iri"),
            _t(EX + "L", EX + "broader", "free"),
        ]
    }
    got = _violations(spark, docs, shapes)
    assert got == {
        (EX + "L", SH + "NodeKindConstraintComponent", STAR, "free"),
    }, got


def test_recursive_closure_differential_random_graphs(spark):
    """Seeded differential: 40 random directed graphs (some cyclic) vs a
    pure-Python BFS truth. For each focus the engine's broader* /
    broader+ value-node COUNTS must equal the closed-form reachable-set
    sizes — checked through the real constraint machinery by binding
    maxCount 0 on both paths (every value node then yields exactly one
    violation row, so |violations per (focus, path)| == |value set|)."""
    import random

    rng = random.Random(20260818)
    count_profile = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.com/ns#> .
ex:NShape a sh:NodeShape ;
  sh:targetClass ex:N ;
  sh:property [ sh:path [ sh:zeroOrMorePath ex:broader ] ; sh:maxCount 0 ] ;
  sh:property [ sh:path [ sh:oneOrMorePath ex:broader ] ; sh:maxCount 0 ] .
"""
    shapes = parse_shapes_turtle(count_profile)

    docs, want = {}, {}
    for g in range(40):
        n = rng.randint(2, 9)
        nodes = [f"{EX}g{g}n{k}" for k in range(n)]
        edges = {
            (a, b)
            for a in range(n) for b in range(n)
            if a != b and rng.random() < 0.3
        }
        if g % 4 == 0 and n >= 2:  # force some cycles
            edges |= {(0, 1), (1, 0)}
        triples = [_t(nodes[0], RDF_TYPE, EX + "N", kind="iri")] + [
            _t(nodes[a], EX + "broader", nodes[b], kind="iri")
            for a, b in sorted(edges)
        ]
        docs[f"g{g}"] = triples
        # python truth: BFS from node 0 over the edge set
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
        seen, frontier = set(), {0}
        while frontier:
            nxt = set()
            for x in frontier:
                for y in adj.get(x, ()):
                    if y not in seen:
                        seen.add(y)
                        nxt.add(y)
            frontier = nxt
        plus = len(seen)              # broader+ = reachable via >=1 hop
        star = len(seen | {0})        # broader* adds the focus itself
        want[f"g{g}"] = {STAR: star, PLUS: plus}

    rows = [
        (doc_id, t.subj, t.pred, t.obj_value, t.obj_kind,
         t.obj_datatype, t.obj_lang)
        for doc_id, ts in docs.items()
        for t in ts
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, subj string, pred string, obj_value string, "
        "obj_kind string, obj_datatype string, obj_lang string",
    )
    viol = validate(df, shapes, spark, cache_intermediate=False)
    got = {}
    for r in viol.collect():
        assert r.constraint_component == SH + "MaxCountConstraintComponent"
        got.setdefault(r.doc_id, {})[r.result_path] = None
    # maxCount violations are one row per (focus, path), so compare the
    # VALUE-SET SIZES via a dedicated count query on the synthetic rows
    from harvesting_validator_spark.shacl.compile import (
        _path_value_frames,
        compute_focus,
    )

    focus = compute_focus(df, shapes, spark)
    frames = _path_value_frames(focus, df, shapes, spark)
    counts = {
        (r.doc_id, r.pred): r.n
        for r in frames.groupBy("doc_id", "pred")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for doc_id, by_path in want.items():
        for path_id, expect in by_path.items():
            assert counts.get((doc_id, path_id), 0) == expect, (
                doc_id, path_id, expect, counts.get((doc_id, path_id)))


# --- nested path steps (r5 wave 3): inverse members inside sequences /
# alternatives, inverse-of-sequence / inverse-of-alternative normalization


NESTED_PROFILE = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.com/ns#> .

ex:S a sh:NodeShape ; sh:targetClass ex:Employee ;
  sh:property [ sh:path ( ex:worksFor [ sh:inversePath ex:worksFor ] ) ;
                sh:maxCount 2 ] ;
  sh:property [ sh:path [ sh:inversePath ( ex:manages ex:deputy ) ] ;
                sh:maxCount 1 ] ;
  sh:property [ sh:path [ sh:alternativePath
                          ( ex:knows [ sh:inversePath ex:knows ] ) ] ;
                sh:maxCount 1 ] .
"""

NESTED_SHAPES = parse_shapes_turtle(NESTED_PROFILE)
COWORKER = EX + "worksFor/^" + EX + "worksFor"
INV_SEQ = "^" + EX + "deputy/^" + EX + "manages"
UNDIRECTED = EX + "knows|^" + EX + "knows"


def test_parse_nested_path_steps():
    by_path = {
        p.path: p for s in NESTED_SHAPES.shapes for p in s.properties
    }
    cw = by_path[COWORKER]
    assert cw.path_kind == "sequence"
    assert cw.path_preds == (EX + "worksFor", EX + "worksFor")
    assert cw.path_dirs == (False, True)
    # ^(manages/deputy) normalizes to ^deputy/^manages
    inv_seq = by_path[INV_SEQ]
    assert inv_seq.path_kind == "sequence"
    assert inv_seq.path_preds == (EX + "deputy", EX + "manages")
    assert inv_seq.path_dirs == (True, True)
    und = by_path[UNDIRECTED]
    assert und.path_kind == "alternative"
    assert und.path_dirs == (False, True)


def test_inverse_of_alternative_normalizes():
    turtle = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.com/ns#> .
ex:S a sh:NodeShape ; sh:targetClass ex:T ;
  sh:property [ sh:path [ sh:inversePath
                          [ sh:alternativePath ( ex:a ex:b ) ] ] ;
                sh:minCount 1 ] .
"""
    (ps,) = parse_shapes_turtle(turtle).shapes[0].properties
    # ^(a|b) == ^a|^b
    assert ps.path_kind == "alternative"
    assert ps.path_preds == (EX + "a", EX + "b")
    assert ps.path_dirs == (True, True)
    assert ps.path == "^" + EX + "a|^" + EX + "b"


def test_coworker_sequence_with_inverse_step(spark):
    # worksFor/^worksFor = everyone at the focus node's employer,
    # INCLUDING the focus itself (it reaches itself back through the
    # inverse hop). e1 has coworkers {e1,e2,e3} = 3 > maxCount 2.
    docs = {
        "a": [
            _t(EX + "e1", RDF_TYPE, EX + "Employee", kind="iri"),
            _t(EX + "e1", EX + "worksFor", EX + "c", kind="iri"),
            _t(EX + "e2", EX + "worksFor", EX + "c", kind="iri"),
            _t(EX + "e3", EX + "worksFor", EX + "c", kind="iri"),
        ],
        "b": [
            # alone at the employer: values {e4} = 1, conforms
            _t(EX + "e4", RDF_TYPE, EX + "Employee", kind="iri"),
            _t(EX + "e4", EX + "worksFor", EX + "d", kind="iri"),
        ],
    }
    got = _violations(spark, docs, NESTED_SHAPES)
    assert got == {
        (EX + "e1", SH + "MaxCountConstraintComponent", COWORKER, None),
    }


def test_inverse_of_sequence_walks_backwards(spark):
    # ^(manages/deputy): managers whose managed node has the focus as
    # deputy. Two such chains -> 2 values > maxCount 1.
    docs = {
        "a": [
            _t(EX + "e4", RDF_TYPE, EX + "Employee", kind="iri"),
            _t(EX + "m", EX + "manages", EX + "x", kind="iri"),
            _t(EX + "x", EX + "deputy", EX + "e4", kind="iri"),
            _t(EX + "n", EX + "manages", EX + "y", kind="iri"),
            _t(EX + "y", EX + "deputy", EX + "e4", kind="iri"),
        ],
        "b": [
            # one chain only: conforms
            _t(EX + "e5", RDF_TYPE, EX + "Employee", kind="iri"),
            _t(EX + "m2", EX + "manages", EX + "x2", kind="iri"),
            _t(EX + "x2", EX + "deputy", EX + "e5", kind="iri"),
        ],
    }
    got = _violations(spark, docs, NESTED_SHAPES)
    assert got == {
        (EX + "e4", SH + "MaxCountConstraintComponent", INV_SEQ, None),
    }


def test_undirected_alternative_counts_value_once(spark):
    # knows|^knows over a SYMMETRIC pair: f is reachable forward AND
    # inverse — one value node, not two (set semantics across the
    # forward/inverse member frames)
    docs = {
        "a": [
            _t(EX + "e5", RDF_TYPE, EX + "Employee", kind="iri"),
            _t(EX + "e5", EX + "knows", EX + "f", kind="iri"),
            _t(EX + "f", EX + "knows", EX + "e5", kind="iri"),
        ],
        "b": [
            # two distinct neighbors, one per direction -> 2 > maxCount 1
            _t(EX + "e6", RDF_TYPE, EX + "Employee", kind="iri"),
            _t(EX + "e6", EX + "knows", EX + "g", kind="iri"),
            _t(EX + "h", EX + "knows", EX + "e6", kind="iri"),
        ],
    }
    got = _violations(spark, docs, NESTED_SHAPES)
    assert got == {
        (EX + "e6", SH + "MaxCountConstraintComponent", UNDIRECTED, None),
    }


# --- r5 review-wave fixes ------------------------------------------------------

LIT_CLOSURE_PROFILE = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.com/ns#> .

ex:ChainShape a sh:NodeShape ;
  sh:targetClass ex:Root ;
  sh:property [ sh:path [ sh:oneOrMorePath ex:p ] ;
                sh:maxCount 1 ] .
"""


def test_closure_never_composes_through_a_literal(spark):
    # <a> ex:p "http://x" (a STRING holding a URL) and <http://x> ex:p
    # <c>: textual dst==src matching used to add the phantom pair
    # a -> c; a literal has no outgoing edges, so a reaches ONE value
    # ("http://x") and maxCount 1 must hold
    shapes = parse_shapes_turtle(LIT_CLOSURE_PROFILE)
    docs = {
        "d1": [
            _t(EX + "a", RDF_TYPE, EX + "Root", kind="iri"),
            _t(EX + "a", EX + "p", "http://x"),
            _t("http://x", EX + "p", EX + "c", kind="iri"),
        ],
    }
    got = _violations(spark, docs, shapes)
    assert got == set()


def test_step_list_literal_member_raises():
    bad = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.com/ns#> .

ex:S a sh:NodeShape ;
  sh:targetClass ex:T ;
  sh:property [ sh:path ( ex:p "oops" ) ; sh:minCount 1 ] .
"""
    with pytest.raises(NotImplementedError, match="not a valid path step"):
        parse_shapes_turtle(bad)


def test_malformed_path_lists_raise():
    # cyclic rdf:rest chain and a rest-less node are malformed lists,
    # not quiet ends: truncating either validates a shorter path
    cyc = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.com/ns#> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .

ex:S a sh:NodeShape ;
  sh:targetClass ex:T ;
  sh:property [ sh:path _:l ; sh:minCount 1 ] .
_:l rdf:first ex:p1 ; rdf:rest _:l .
"""
    with pytest.raises(NotImplementedError, match="cyclic rdf:list"):
        parse_shapes_turtle(cyc)
    norest = cyc.replace(
        "_:l rdf:first ex:p1 ; rdf:rest _:l .",
        "_:l rdf:first ex:p1 .",
    )
    with pytest.raises(NotImplementedError, match="no\\s+rdf:rest"):
        parse_shapes_turtle(norest)


# --- one evaluator for every path kind (shacl/compile.py
# _path_value_frames: hop, zero step, closure)

ALL_KINDS_PROFILE = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.com/ns#> .

ex:S a sh:NodeShape ; sh:targetClass ex:T ;
  sh:property [ sh:path ex:name ; sh:maxCount 9 ] ;
  sh:property [ sh:path [ sh:inversePath ex:knows ] ; sh:maxCount 9 ] ;
  sh:property [ sh:path ( ex:worksFor [ sh:inversePath ex:worksFor ] ) ;
                sh:maxCount 9 ] ;
  sh:property [ sh:path [ sh:alternativePath
                          ( ex:email [ sh:inversePath ex:mentor ] ) ] ;
                sh:maxCount 9 ] ;
  sh:property [ sh:path [ sh:zeroOrOnePath ex:spouse ] ; sh:maxCount 9 ] ;
  sh:property [ sh:path [ sh:zeroOrMorePath ex:broader ] ; sh:maxCount 9 ] ;
  sh:property [ sh:path [ sh:oneOrMorePath ex:broader ] ; sh:maxCount 9 ] .
"""


def test_every_path_kind_on_one_document(spark):
    from harvesting_validator_spark.shacl.compile import (
        _path_value_frames,
        compute_focus,
    )

    f = EX + "f"
    triples = [
        _t(f, RDF_TYPE, EX + "T", kind="iri"),
        _t(f, EX + "name", "F"),
        # ^knows lands on subjects; the subject-derived kind tells a
        # blank node apart; a literal object spelling the focus IRI is
        # not the focus
        _t(EX + "k1", EX + "knows", f, kind="iri"),
        _t("_:k2", EX + "knows", f, kind="bnode"),
        _t(EX + "g", EX + "knows", f),
        # worksFor/^worksFor: the focus and its coworker; the literal
        # employer is never stepped from, so x (working at the IRI the
        # literal spells) is not a value
        _t(f, EX + "worksFor", EX + "c", kind="iri"),
        _t(EX + "e2", EX + "worksFor", EX + "c", kind="iri"),
        _t(f, EX + "worksFor", EX + "lc"),
        _t(EX + "x", EX + "worksFor", EX + "lc", kind="iri"),
        # email|^mentor: one forward literal, one inverse member
        _t(f, EX + "email", "f@example.com"),
        _t(EX + "m", EX + "mentor", f, kind="iri"),
        # spouse?: the focus itself and its spouse
        _t(f, EX + "spouse", EX + "s", kind="iri"),
        # broader* / broader+: a chain ending in a literal leaf
        _t(f, EX + "broader", EX + "b1", kind="iri"),
        _t(EX + "b1", EX + "broader", EX + "b2", kind="iri"),
        _t(EX + "b2", EX + "broader", "top"),
    ]
    df = spark.createDataFrame(
        [("d", t.subj, t.pred, t.obj_value, t.obj_kind, t.obj_datatype,
          t.obj_lang) for t in triples],
        "doc_id string, subj string, pred string, obj_value string, "
        "obj_kind string, obj_datatype string, obj_lang string",
    )
    shapes = parse_shapes_turtle(ALL_KINDS_PROFILE)
    frames = _path_value_frames(
        compute_focus(df, shapes, spark), df, shapes, spark
    )
    got = {
        (r.focus_node, r.pred, r.obj_value, r.obj_kind)
        for r in frames.collect()
    }

    def rows(path_id, *values):
        return {(f, path_id, v, k) for v, k in values}

    want = (
        rows("^" + EX + "knows", (EX + "k1", "iri"), ("_:k2", "bnode"))
        | rows(EX + "worksFor/^" + EX + "worksFor",
               (f, "iri"), (EX + "e2", "iri"))
        | rows(EX + "email|^" + EX + "mentor",
               ("f@example.com", "literal"), (EX + "m", "iri"))
        | rows(EX + "spouse?", (f, "iri"), (EX + "s", "iri"))
        | rows(EX + "broader*", (f, "iri"), (EX + "b1", "iri"),
               (EX + "b2", "iri"), ("top", "literal"))
        | rows(EX + "broader+", (EX + "b1", "iri"), (EX + "b2", "iri"),
               ("top", "literal"))
    )
    # the plain IRI path rides ftrip, not the synthetic path rows
    assert got == want
    # rows are distinct: no value counted twice
    assert frames.count() == len(want)


@pytest.mark.parametrize("which,max_joins,n_rows", [
    ("path", 6, 190),
    ("recursive", 7, 390),
])
def test_path_plan_join_count(spark, which, max_joins, n_rows):
    # every hop is ONE join against triples and every path kind is built
    # from the same hop, so the plan never grows past the per-kind
    # branches it replaced (6 joins for PATH_PROFILE, 7 for
    # REC_PATH_PROFILE at 60 documents)
    import re

    from harvesting_validator_spark.plans.pipeline import add_doc_id
    from harvesting_validator_spark.runtime import (
        persistent_rdd_ids,
        release_new_rdds,
    )
    from harvesting_validator_spark.shacl.compile import (
        _path_value_frames,
        compute_focus,
    )
    from harvesting_validator_spark.sources.rdf_parse import (
        parse_sources_to_triples,
    )
    from harvesting_validator_spark.sources.synthetic import (
        PATH_PROFILE,
        REC_PATH_PROFILE,
        generate_path_sources,
        generate_recursive_path_sources,
    )

    generate, profile = {
        "path": (generate_path_sources, PATH_PROFILE),
        "recursive": (generate_recursive_path_sources, REC_PATH_PROFILE),
    }[which]
    before = persistent_rdd_ids(spark)
    try:
        shapes = parse_shapes_turtle(profile)
        triples = parse_sources_to_triples(add_doc_id(generate(spark, 60)))
        # a persisted focus keeps compute_focus's own join out of the count
        focus = compute_focus(triples, shapes, spark).persist()
        frames = _path_value_frames(focus, triples, shapes, spark)
        plan = frames._jdf.queryExecution().optimizedPlan().toString()
        joins = len(re.findall(r"(?m)^[\s:+\-]*Join ", plan))
        assert 0 < joins <= max_joins, plan
        assert frames.count() == n_rows
    finally:
        release_new_rdds(spark, before, blocking=True)
