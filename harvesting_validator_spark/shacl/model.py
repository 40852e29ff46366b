"""Compiled SHACL shapes model.

Reference analog: the application profile is parsed once at startup into a
Jena ``Shapes`` singleton (`ApplicationConfig.java:44-50`, SURVEY.md §1.4)
and shared. Here the compiled form is a tuple of plain-Python dataclasses,
small enough to ship to executors inside closure captures / broadcasts.

Constructs covered = everything exercised by the reference's two profiles
(`test/config/validation/application-profile.ttl:9-24`,
`src/main/resources/default.shaclc:7-16`; SURVEY.md §2.6): targetClass,
path (simple IRI), minCount/maxCount, datatype (+ sh:or unions), pattern,
class, nodeKind, minLength/maxLength, closed+ignoredProperties, nested
node shapes, sh:in, sh:hasValue — plus the rest of SHACL core's
SQL-expressible constraint components (beyond-reference breadth): value
ranges (min/maxInclusive, min/maxExclusive, numeric comparison via
DECIMAL cast), sh:languageIn, sh:uniqueLang, the property-pair
components sh:equals / sh:disjoint / sh:lessThan / sh:lessThanOrEquals,
sh:qualifiedValueShape with sh:qualifiedMin/MaxCount, the node-level
logical components sh:not / sh:and / sh:or / sh:xone (all answered by
one recursive conformance probe; property-level sh:or of datatypes stays
the single-scan union), the sh:targetSubjectsOf /
sh:targetObjectsOf selectors (non-literal focus only), and (r5) the
property-path expressions sh:inversePath, sequence paths and
sh:alternativePath (rdf:lists of >=2 steps, each an IRI or
[sh:inversePath <iri>]), sh:zeroOrOnePath, sh:zeroOrMorePath and
sh:oneOrMorePath — one evaluator (compile.py _path_value_frames)
builds every form from three primitives: a hop (one join against the
triples, forward or inverse), the zero step (the focus node itself)
and the per-predicate transitive closure (runtime.path_closure, path
doubling); its synthetic value-node rows feed every constraint
component unchanged,
plus (r5) sh:qualifiedValueShapesDisjoint (sibling-conforming values
excluded from the qualified count — the sibling probes ride the same
recursive conformance pass), plus (r5) node-shape SPARQL-based
constraints (sh:sparql with sh:select / sh:message / sh:prefixes): the
SELECT text compiles through the engine's OWN SPARQL->DataFrame
compiler (sparql.py) with per-document graph scoping, $this joined
against the shape's focus set — each distinct solution is one
violation (sh:SPARQLConstraintComponent; ?value / ?path bindings map
to sh:value / sh:resultPath per spec §5.3.2, and sh:message
{?var}/{$var} placeholders substitute the solution's bindings per spec
§5.3.2.3); sh:sparql on PROPERTY shapes substitutes the pre-bound
$PATH with the shape's path IRI at parse time (spec §5.3.1, simple IRI
paths only) and defaults result_path to that path. Out of contract
(raise at parse time, degrade-don't-guess): deeply-nested path
expressions, sh:node under a non-IRI path, $PATH substitution into a
path EXPRESSION, pre-bound vars other than $this/$PATH, GRAPH clauses
inside a constraint query, sh:ask-only constraints, and any SPARQL
feature outside sparql.py's documented subset (SparqlUnsupported
surfaces at profile-parse time).
"""

from __future__ import annotations

from dataclasses import dataclass, field

SH = "http://www.w3.org/ns/shacl#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF + "type"

NODEKIND_IRI = SH + "IRI"
NODEKIND_BLANK = SH + "BlankNode"
NODEKIND_LITERAL = SH + "Literal"
NODEKIND_BLANK_OR_IRI = SH + "BlankNodeOrIRI"
NODEKIND_BLANK_OR_LITERAL = SH + "BlankNodeOrLiteral"
NODEKIND_IRI_OR_LITERAL = SH + "IRIOrLiteral"

SEVERITY_VIOLATION = SH + "Violation"


@dataclass(frozen=True)
class PropertyShape:
    """One ``sh:property`` blank node of a node shape."""

    shape_id: str  # skolemized id of the property shape (for reporting)
    # canonical path id. For a simple IRI path this IS the predicate (the
    # only form the reference's profiles use); for path EXPRESSIONS it is
    # the deterministic SPARQL-syntax display form ("^<pred>" without
    # brackets: "^"+iri for inverse, "/".join(iris) for sequences,
    # "|".join(iris) for alternatives, iri+"?" for zero-or-one) — the
    # id the compiler stamps on synthetic ftrip rows and reports as
    # result_path, guaranteed not to collide with a real predicate IRI
    # in the document (compile.py _path_value_frames)
    path: str
    min_count: int | None = None
    max_count: int | None = None
    datatypes: tuple[str, ...] = ()  # >1 entries = sh:or of datatypes
    pattern: str | None = None
    class_: str | None = None
    node_kind: str | None = None
    min_length: int | None = None
    max_length: int | None = None
    in_values: tuple[str, ...] = ()
    has_value: str | None = None
    node_shape: str | None = None  # nested shape: IRI/bnode id of a NodeShape
    # value-range components: bound kept as the literal's lexical form;
    # comparison is numeric (DECIMAL(38,12)) — non-numeric or non-literal
    # value nodes violate, matching SHACL's "incomparable => violation"
    min_inclusive: str | None = None
    max_inclusive: str | None = None
    min_exclusive: str | None = None
    max_exclusive: str | None = None
    language_in: tuple[str, ...] = ()
    unique_lang: bool = False
    # property-pair components: each names the OTHER predicate whose value
    # set (on the same focus node) is compared against this path's values
    equals: str | None = None
    disjoint: str | None = None
    less_than: str | None = None
    less_than_or_equals: str | None = None
    # qualified cardinality: count values CONFORMING to the referenced
    # shape (id into ShapesGraph.by_id) against the min/max bounds.
    # qualified_disjoint (r5, sh:qualifiedValueShapesDisjoint): when
    # true, a value node conforming to any SIBLING qualified shape
    # (the qualified shapes of the parent node shape's OTHER property
    # shapes) is excluded from this shape's conforming count (spec
    # §4.5.3)
    qualified_shape: str | None = None
    qualified_min: int | None = None
    qualified_max: int | None = None
    qualified_disjoint: bool = False
    # property-path expressions (r5): "iri" = plain predicate path;
    # "inverse" = sh:inversePath (value nodes = SUBJECTS of triples whose
    # object is the focus); "sequence" = an rdf:list of >=2 members
    # (value nodes = nodes reachable by chaining the hops); "alternative"
    # = sh:alternativePath over an rdf:list of >=2 members (union of the
    # members' values, set semantics); "zero_or_one" = sh:zeroOrOnePath
    # (the focus node itself union the one-hop objects); "zero_or_more"
    # / "one_or_more" = the recursive forms (directed transitive closure
    # of the predicate, p* including the focus itself). Evaluation
    # (compile.py _path_value_frames): inverse, sequence and zero_or_one
    # are chains of hops; alternative is one forward and/or one inverse
    # hop over its member sets; the recursive forms hop over the
    # predicate's closure; zero_or_one / zero_or_more add the zero step
    # (the focus itself). path_preds holds
    # the underlying predicate IRIs in traversal/member order (empty for
    # "iri", where `path` is the predicate itself); path_dirs (r5 wave 3)
    # holds one flag per step for sequence/alternative members — True =
    # the step is an INVERSE hop ([sh:inversePath <p>] list member).
    # [sh:inversePath (p1 .. pn)] and [sh:inversePath [alternative]]
    # normalize at parse time (^(p/q) == ^q/^p; ^(p|q) == ^p|^q), so
    # "inverse" itself always wraps a single IRI. Deeper nesting
    # (closures inside expressions, alternatives inside sequences)
    # raises at parse time — degrade-don't-guess.
    path_kind: str = "iri"
    path_preds: tuple[str, ...] = ()
    path_dirs: tuple[bool, ...] = ()
    # SPARQL-based constraints on THIS property shape (spec §5.3.1):
    # the pre-bound $PATH is substituted with the shape's path IRI at
    # parse time (simple IRI paths only — substitution into a path
    # EXPRESSION raises), and violations default sh:resultPath to the
    # path when the query binds no ?path
    sparql_constraints: tuple = ()
    message: str | None = None


@dataclass(frozen=True)
class SparqlConstraint:
    """One ``sh:sparql`` constraint of a node shape (spec §5.3).

    ``select`` holds the FINAL query text the compiler runs: sh:prefixes
    declarations inlined as a PREFIX prologue and the pre-bound ``$this``
    rewritten to the plain variable ``?this``. parse.py validates the
    text against sparql.py's GRAMMAR subset at profile-parse time, so a
    syntactically bad constraint fails at profile load; the few
    compile-only rejections (e.g. a sliced sub-select under the graph
    variable) surface when ``validate()`` BUILDS its plan — still
    before any data is processed, never mid-job."""

    source: str  # skolem-stable id of the constraint node (reporting)
    select: str
    message: str | None = None


@dataclass(frozen=True)
class NodeShape:
    iri: str
    target_classes: tuple[str, ...] = ()
    target_nodes: tuple[str, ...] = ()
    # implicit target selectors: focus = subjects (resp. non-literal
    # objects) of any triple whose predicate is listed
    target_subjects_of: tuple[str, ...] = ()
    target_objects_of: tuple[str, ...] = ()
    properties: tuple[PropertyShape, ...] = ()
    closed: bool = False
    ignored_properties: tuple[str, ...] = ()
    # node-level logical components over sub-shape conformance:
    # sh:not — focus violates iff it CONFORMS to the shape;
    # sh:and — violates unless it conforms to EVERY member;
    # sh:or — violates unless it conforms to AT LEAST ONE member;
    # sh:xone — violates unless it conforms to EXACTLY ONE member
    not_shapes: tuple[str, ...] = ()
    and_shapes: tuple[str, ...] = ()
    or_shapes: tuple[str, ...] = ()
    xone_shapes: tuple[str, ...] = ()
    # SPARQL-based constraints (sh:sparql, spec §5.3) on this node shape
    sparql_constraints: tuple[SparqlConstraint, ...] = ()


@dataclass(frozen=True)
class ShapesGraph:
    shapes: tuple[NodeShape, ...] = ()
    # shapes addressable by id, for nested sh:node resolution
    by_id: dict = field(default_factory=dict, compare=False)

    def targeted(self) -> tuple[NodeShape, ...]:
        return tuple(
            s for s in self.shapes
            if s.target_classes or s.target_nodes
            or s.target_subjects_of or s.target_objects_of
        )
